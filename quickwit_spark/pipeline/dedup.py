"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

All are declarative DataFrame plans. The cross-engine hash primitive is
``H(s) = int(md5(s)[:15 hex], 16)`` — identical in Spark
(``conv(substring(md5(s),1,15),16,10)``), DuckDB
(``('0x'||substr(md5(s),1,15))::BIGINT``) and Python, so the DuckDB
oracles verify these operators value-for-value.

Scale notes (the 100 TB story):
* exact: one hash-shuffle on the digest; combine-side distinct.
* MinHash/LSH: signatures are a narrow map (groupBy doc over exploded
  shingles×permutations is shuffle #1, banding join is shuffle #2);
  band buckets with huge membership (degenerate content) should be
  capped — ``max_bucket`` guards the quadratic pair blow-up. The
  shingle-set and signature intermediates are persisted by default
  (Catalyst cannot CSE the shingle expression across the self-join, so
  the declarative plan re-tokenizes every doc up to 4×; measured 15×
  end-to-end at sf0.1) — release with ``unpersist_intermediates``.
* n-gram Jaccard: the shingle self-join explodes on frequent shingles;
  ``max_shingle_df`` drops shingles whose doc-freq exceeds the cap
  (standard frequent-shingle suppression) — sound for candidate
  GENERATION when paired with verification over full shingle sets.
* SimHash: per-row bit-vote via higher-order functions (no explode, no
  shuffle until the bucket join on the 16-bit prefix).
* embedding cosine: brute force is O(n²) — ``embedding_lsh_pairs``
  (hyperplane-LSH candidate buckets + exact cosine verify) is the scale
  path; ``embedding_cosine_pairs`` is the exact verifier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from quickwit_spark.pipeline.textstats import (
    TOKEN_PATTERN,
    ensure_parallelism as _ensure_parallelism,
    tokens_col,
)

H15 = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"


def _toks(text_col: str) -> str:
    return f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"


def _shingles(text_col: str, k: int = 3) -> str:
    """Word k-gram shingles as a SQL expression (array<string>).
    Docs shorter than k tokens contribute their full token string."""
    toks = _toks(text_col)
    return (
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice({toks}, i, {k}))))"
    )


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> DataFrame:
    """Exact dedup by content digest: every doc annotated with its
    group's keeper (min id) and group size. ONE digest shuffle — the
    per-group keeper/size are window aggregates over the digest
    partition, so no second exchange or self-join is planned (the
    groupBy+join formulation shuffles the same rows twice at scale).
    ``append=True`` keeps the input columns (for composing into larger
    curation plans without a re-join on the id)."""
    from pyspark.sql import Window

    win = Window.partitionBy(F.md5(F.col(text_col)))
    keeper = F.min(id_col).over(win).alias("keeper_id")
    size = F.count(F.lit(1)).over(win).alias("group_size")
    head = ["*"] if append else [id_col]
    return df.select(*head, keeper, size).withColumn(
        "is_dup", F.col(id_col) != F.col("keeper_id")
    )


# two-hash (Kirsch–Mitzenmacher) minwise scheme: perm i's hash of
# shingle s is (h1(s) + i*h2(s)) mod M with h1 = H15(s) % M,
# h2 = H15('~'+s) % M — each shingle is md5'd twice TOTAL instead of
# once per permutation, and the whole signature is a per-row
# higher-order-function expression (no explode, no shuffle)
MINHASH_MOD = 1 << 40


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, sh: array<string>) — the shared shingle-set intermediate."""
    return _ensure_parallelism(df).select(
        F.col(id_col), F.expr(_shingles(text_col, k)).alias("sh")
    )


def _signatures_from_sets(sets_: DataFrame, id_col: str, num_perm: int) -> DataFrame:
    M = MINHASH_MOD
    sh = sets_.select(id_col, F.explode("sh").alias("s")).select(
        id_col,
        F.expr(H15.format(x="s") + f" % {M}").alias("h1"),
        F.expr(H15.format(x="concat('~', s)") + f" % {M}").alias("h2"),
    )
    mins = [
        F.min((F.col("h1") + p * F.col("h2")) % M).alias(f"mh{p}")
        for p in range(num_perm)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"mh{p}") for p in range(num_perm)]).alias("signature"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = 12, k: int = 3,
) -> DataFrame:
    """MinHash signature as one array<long> column of length num_perm.

    Shingles are exploded and md5'd ONCE (two hashes per shingle), then
    the num_perm minimums are columnar min-aggregates — map-side
    combined, so the shuffle carries one partial signature per doc per
    input partition, not the shingles. (A per-row higher-order-function
    formulation is tempting but Catalyst inlines the hash arrays into
    every permutation's lambda — md5 × num_perm; measured 7× slower.)"""
    return _signatures_from_sets(
        _shingle_sets(df, id_col, text_col, k), id_col, num_perm
    )


def unpersist_intermediates(out: DataFrame) -> None:
    """Release the intermediates a pair-generator persisted (no-op for
    DataFrames produced with ``persist_intermediates=False``)."""
    for cached in getattr(out, "_qs_cached", ()) or ():
        cached.unpersist()


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = 12, band_size: int = 3, k: int = 3,
    threshold: float = 0.5, max_bucket: int | None = 1000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band the signature (num_perm/band_size
    bands, bucket = md5 of the band's slice in perm order), join docs
    sharing any band bucket, then verify EXACT n-gram Jaccard on
    candidates and keep pairs ≥ threshold.

    ``max_bucket`` (DEFAULT ON — the quadratic-blowup guard) drops band
    buckets with more than that many members from candidate generation:
    a degenerate bucket (e.g. millions of near-empty docs hashing
    identically) otherwise goes O(|bucket|²) in the self-join. Standard
    frequent-bucket suppression — such content is exact-dup territory
    (``exact_dedup``), not MinHash territory; pass None to disable.

    ``persist_intermediates`` (default on) caches the shingle-set and
    signature DataFrames at MEMORY_AND_DISK: the declarative plan
    otherwise re-tokenizes + re-shingles every doc up to 4× (signature
    explode, band-bucket count, both verify join sides) because Catalyst
    cannot CSE across a self-join (measured 15× end-to-end at sf0.1).
    The cache spills to executor-local disk at scale; call
    ``unpersist_intermediates(result)`` once the result is materialized,
    or pass False for the pure declarative plan.

    Returns (id_a, id_b, jaccard) with id_a < id_b, rounded to 6."""
    n_bands = num_perm // band_size
    cached: list[DataFrame] = []
    sets_ = _shingle_sets(df, id_col, text_col, k)
    if persist_intermediates:
        sets_ = sets_.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(sets_)
    sig = _signatures_from_sets(sets_, id_col, num_perm)
    if persist_intermediates:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(sig)
    bands = sig.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> named_struct("
                f" 'band', b,"
                f" 'bucket', md5(concat_ws(',',"
                f"   transform(slice(signature, b * {band_size} + 1, {band_size}),"
                f"     v -> cast(v as string))))))"
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket is not None:
        keep = (
            bands.groupBy("band", "bucket").count()
            .where(F.col("count") <= max_bucket)
            .select("band", "bucket")
        )
        bands = bands.join(keep, ["band", "bucket"])
    a = bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    out = _verify_jaccard(sets_, cand, id_col, threshold)
    out._qs_cached = cached
    return out


def _verify_jaccard(sets_, cand, id_col, threshold):
    """Exact Jaccard over full shingle sets for candidate pairs.
    ``sets_`` is the (id, sh) DataFrame from ``_shingle_sets`` (possibly
    persisted by the caller — it is joined on BOTH sides)."""
    out = (
        cand.join(sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, threshold: float = 0.5, max_shingle_df: int | None = 1000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via a shingle inverted
    self-join (exact when ``max_shingle_df=None`` — candidate pairs must
    share ≥1 shingle, which any pair with jaccard>0 does).

    ``max_shingle_df`` (DEFAULT ON — the quadratic-blowup guard)
    suppresses shingles whose doc-freq exceeds the cap during candidate
    GENERATION: one boilerplate shingle shared by millions of docs
    otherwise explodes the self-join O(df²). Verification still runs on
    FULL shingle sets, so a surviving candidate's jaccard is exact; a
    pair is only missed if it shares nothing but suppressed
    (ubiquitous, hence uninformative) shingles. Pass None for the
    exhaustive exact variant.

    ``persist_intermediates`` caches the shingle sets (used by the
    candidate explode, the df-cap count, and both verify sides) — see
    ``minhash_lsh_pairs``; release with ``unpersist_intermediates``."""
    cached: list[DataFrame] = []
    sets_ = _shingle_sets(df, id_col, text_col, k)
    if persist_intermediates:
        sets_ = sets_.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(sets_)
    sh = sets_.select(id_col, F.explode("sh").alias("shingle"))
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle").count()
            .where(F.col("count") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    cand = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    out = _verify_jaccard(sets_, cand, id_col, threshold)
    out._qs_cached = cached
    return out


SIMHASH_BITS = 60  # fits the 15-hex-digit cross-engine hash


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash: per token t, H15(t); bit b of the fingerprint is
    1 iff Σ_tokens (2·bit_b(H(t)) − 1) > 0. Computed per-row with
    higher-order functions (aggregate over the token array) — no
    explode, no shuffle, pure WSCG. The md5 is HOISTED into its own
    transform so it runs once per token: referencing H15(t) inside the
    per-bit lambda makes Catalyst evaluate it per bit (60 md5s/token —
    measured 2.6× slower end-to-end)."""
    toks = _toks(text_col)
    hashes = f"transform({toks}, t -> {H15.format(x='t')})"
    votes = (
        f"aggregate({hashes}, array_repeat(0L, {SIMHASH_BITS}),"
        f" (acc, h) -> zip_with(acc, transform(sequence(0, {SIMHASH_BITS - 1}),"
        f"   b -> shiftright(h, b) & 1L), "
        f"   (a, bit) -> a + 2 * bit - 1))"
    )
    fp = (
        f"aggregate(zip_with({votes}, sequence(0, {SIMHASH_BITS - 1}),"
        f" (v, b) -> if(v > 0, shiftleft(1L, b), 0L)), 0L, (s, x) -> s + x)"
    )
    return _ensure_parallelism(df).select(
        F.col(id_col), F.expr(fp).cast("long").alias("simhash")
    )


def simhash_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 6, prefix_bits: int = 12, n_rotations: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs: bucket by the top ``prefix_bits`` of the
    fingerprint, join within buckets, keep Hamming distance ≤ cap.

    ``n_rotations`` is the standard multi-table extension: rotation r
    buckets on the prefix of the fingerprint rotated left by
    ``r * 60/n_rotations`` bits and candidates are unioned across
    rotations — a pair whose differing bits all fall inside one
    rotation's prefix window is still caught by another, so recall
    rises monotonically with n_rotations at linearly more (still
    bucket-bounded) join work."""
    mask = (1 << SIMHASH_BITS) - 1
    n_rot = max(n_rotations, 1)
    step = SIMHASH_BITS // n_rot
    sh = simhash(df, id_col, text_col)
    rot_buckets = [
        (
            f"shiftright((shiftleft(simhash, {r * step}) & {mask}L)"
            f" | shiftright(simhash, {SIMHASH_BITS - r * step}),"
            f" {SIMHASH_BITS - prefix_bits})"
            if r else
            f"shiftright(simhash, {SIMHASH_BITS - prefix_bits})"
        )
        for r in range(n_rot)
    ]
    buckets = ", ".join(
        f"named_struct('rot', {r}, 'bucket', {e})"
        for r, e in enumerate(rot_buckets)
    )
    sb = sh.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.expr(f"array({buckets})")).alias("rb"),
    ).select(
        id_col, "simhash",
        F.col("rb.rot").alias("rot"), F.col("rb.bucket").alias("bucket"),
    )
    a = sb.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "rot", "bucket")
    b = sb.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "rot", "bucket")
    return (
        a.join(b, ["rot", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()  # a pair may collide under several rotations
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def near_dup_clusters(
    ids_df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id),
    cluster_id = min id of the component (singletons map to self) —
    the keeper-selection step of a dedup pipeline.

    Iterative min-label propagation (each round: label ← min(label,
    neighbors' labels)); rounds ≤ graph diameter, each one shuffle —
    the standard large-graph CC pattern on Spark. Deterministic.

    The edge list is persisted for the duration of the loop: every
    round joins against it, and without the cache each round would
    re-execute the full upstream pairs plan (LSH banding + Jaccard
    verify). The loop is eager (per-round convergence count), so the
    cache is released before returning — the result derives from the
    final localCheckpoint, not from the edges."""
    from pyspark.sql import functions as F

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = ids_df.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("lbl")
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            )
        )
        updated = updated.localCheckpoint(eager=True)  # cut lineage per round
        changed = (
            updated.join(labels.withColumnRenamed("lbl", "old"), "id")
            .where(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id").alias(id_col), F.col("lbl").alias("cluster_id"))


def canonical_docs(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pick ONE canonical doc per near-dup cluster — the keeper policy
    that turns :func:`near_dup_clusters` labels into a deduplicated
    corpus. Keep-longest: most tokens wins, ties broken by lowest id
    (the common near-dup policy: the longest variant usually subsumes
    its truncated/boilerplate-trimmed duplicates). Returns every input
    row as (id, cluster_id, cluster_size, is_canonical); filter on
    ``is_canonical`` for the deduplicated corpus.

    Scale: token counting is a narrow map; the ranking is one window
    shuffle on cluster_id (both window functions share the partition
    key, so Catalyst plans a single exchange). The id↔cluster join is
    a co-partitioned hash join at corpus cardinality — no data blowup.
    """
    n = F.size(tokens_col(text_col)).cast("long")
    joined = df.select(F.col(id_col), n.alias("_nt")).join(clusters, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_nt"), F.asc(id_col)
    )
    cw = Window.partitionBy("cluster_id")
    return joined.select(
        F.col(id_col),
        "cluster_id",
        F.count(F.lit(1)).over(cw).cast("long").alias("cluster_size"),
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0D, (s, v) -> s + v)"
)


def _vec_with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v: the vector, nrm: its L2 norm) — shared verify input."""
    return _ensure_parallelism(df).select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.expr(f"sqrt({_DOT})".format(a=vec_col, b=vec_col)).alias("nrm"),
    )


def _verify_cosine(w: DataFrame, cand: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Exact cosine over candidate pairs; ``w`` is from _vec_with_norm."""
    a = w.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = w.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "cosine",
            F.round(F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_cosine_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact embedding near-dup: all pairs with cosine ≥ threshold.
    O(n²) verifier — at scale use ``embedding_lsh_pairs``, which feeds
    the same exact-cosine verify from hyperplane-LSH candidate buckets
    instead of the full cross join."""
    w = _vec_with_norm(df, id_col, vec_col)
    a = w.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = w.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_lsh_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.9, n_planes: int = 8, n_tables: int = 1,
    seed: int = 42, max_bucket: int | None = 1000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """Embedding near-dup pairs at scale: hyperplane-LSH candidate
    buckets (similarity.random_hyperplane_buckets — deterministic
    md5-derived ±1 plane normals, reproducible across engines) verified
    with EXACT cosine, so a surviving pair's cosine is exact; a pair is
    only missed if it collides in no table. ``n_tables`` independent
    plane sets (seeds seed..seed+n_tables-1) raise recall the standard
    LSH way: candidate if bucket-equal in ANY table.

    Never materializes the O(n²) cross join: candidates come from a
    self-join on (table, bucket) — expected bucket size n/2^n_planes —
    and ``max_bucket`` (default on) drops degenerate buckets the same
    way minhash_lsh_pairs guards band buckets; pass None to disable.

    ``persist_intermediates`` (default on) caches the bucket table and
    the (id, vector, norm) verify input: the bucket projection costs
    n_planes × dim md5-derived terms per row and the declarative plan
    re-evaluates it up to 3× (cap count + both self-join sides), and
    the norms twice (both verify sides) — same Catalyst-can't-CSE
    tradeoff as minhash_lsh_pairs. Release with
    ``unpersist_intermediates(result)``.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6."""
    from quickwit_spark.pipeline.similarity import random_hyperplane_buckets

    cached: list[DataFrame] = []
    w = _vec_with_norm(df, id_col, vec_col)
    if persist_intermediates:
        w = w.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(w)
    buckets = None
    for t in range(n_tables):
        b = random_hyperplane_buckets(
            df, n_planes=n_planes, id_col=id_col, vec_col=vec_col, seed=seed + t
        ).select(F.col(id_col), F.concat(F.lit(f"{t}:"), F.col("bucket")).alias("bucket"))
        buckets = b if buckets is None else buckets.union(b)
    if persist_intermediates:
        buckets = buckets.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(buckets)
    if max_bucket is not None:
        keep = (
            buckets.groupBy("bucket").count()
            .where(F.col("count") <= max_bucket)
            .select("bucket")
        )
        buckets = buckets.join(keep, "bucket")
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), "bucket")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    out = _verify_cosine(w, cand, id_col, threshold)
    out._qs_cached = cached
    return out


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.7,
    n_centroids: int = 8,
    seed: str = "sd1",
    persist_intermediates: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings, then prune
    near-duplicates WITHIN each cluster only. Rows land in Voronoi
    cells around deterministic md5-sampled centroids (the same IVF
    structure as ``similarity.ivf_ann_topk``); within a cell, a row is
    a duplicate iff some LOWER-id cell-mate has cosine ≥ threshold,
    and its ``canonical_id`` is the lowest such id (kept rows are
    their own canonical). One row out per row in:
    (id, cell, canonical_id, is_dup).

    Keeper policy: "any near-dup predecessor" — the keep-lowest-id
    rule this module uses everywhere — rather than the paper's greedy
    chain over already-kept items: the chain is inherently sequential
    within a cluster, while the predecessor rule is order-free (one
    self-join + min-aggregate) and slightly MORE aggressive (a row
    whose only near-dup predecessor was itself removed still drops).

    Scale (the 100 TB story): the only pairwise work is within-cell.
    Size ``n_centroids`` so a cell holds ~corpus/n_centroids rows (the
    paper runs ~50k clusters precisely to keep this quadratic term
    tiny); cell assignment is a narrow map over a broadcast centroid
    array, then ONE shuffle on the cell key feeds both the self-join
    and the min-aggregate. The corpus is never compared across cells
    — recall < 1 by design at cell boundaries, exactly as in the
    paper.

    ``persist_intermediates`` (default on) caches the assigned-cells
    DataFrame: the declarative plan references it THREE times (both
    self-join sides + the final left join) and Catalyst cannot CSE
    across a join, so each reference would re-run the centroid sample
    and the argmax fold over the whole corpus. Release with
    ``unpersist_intermediates``.
    """
    from quickwit_spark.pipeline.similarity import (
        _assign_cells,
        _centroid_array,
        _with_norm,
    )

    c = _with_norm(_ensure_parallelism(df), id_col, vec_col, "c")
    ca = _assign_cells(c, _centroid_array(c, n_centroids, seed))
    cached = []
    if persist_intermediates:
        ca = ca.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(ca)
    a = ca.select(
        F.col("c_id").alias("a_id"), F.col("c_v").alias("va"),
        F.col("c_n").alias("na"), "cell",
    )
    b = ca.select(
        F.col("c_id").alias("b_id"), F.col("c_v").alias("vb"),
        F.col("c_n").alias("nb"), "cell",
    )
    dup = (
        a.join(b, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            F.round(
                F.expr(_DOT.format(a="va", b="vb"))
                / (F.col("na") * F.col("nb")),
                6,
            )
            >= threshold
        )
        .groupBy("b_id")
        .agg(F.min("a_id").alias("_canon"))
    )
    out = ca.join(dup, ca["c_id"] == dup["b_id"], "left").select(
        F.col("c_id").alias(id_col),
        "cell",
        F.coalesce("_canon", F.col("c_id")).alias("canonical_id"),
        F.col("_canon").isNotNull().alias("is_dup"),
    )
    out._qs_cached = cached
    return out


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    cross_doc_only: bool = True,
    hash: str = "xxhash64",
    keep_first: bool = False,
) -> DataFrame:
    """Exact SUBSTRING dedup: find token spans that occur (verbatim)
    more than once in the corpus — the span-level complement of the
    doc-level near-dup operators, after Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): a
    boilerplate paragraph pasted into thousands of otherwise-unique
    documents never trips doc-level MinHash but dominates the training
    distribution.

    Method: every length-``min_len`` token window ("seed gram") is
    hashed (H15, cross-engine md5); a gram is duplicated when it occurs
    under ≥2 distinct doc ids (``cross_doc_only``) or ≥2 times anywhere
    (covers within-doc repetition). Overlapping/adjacent duplicated
    grams in a doc are merged gaps-and-islands style (a new span starts
    when the gap to the previous duplicated gram exceeds ``min_len``),
    so a long copied paragraph reports as ONE maximal span. Returns
    (id, span_start, span_end, n_grams): token-index half-open
    ``[span_start, span_end)`` plus the number of seed grams merged.

    Scale: gram rows are O(total tokens) — linear, the same volume the
    index build shuffles. TWO shuffles total: (1) the duplicate mark is
    min/max/count WINDOW aggregates over the gram-hash partition (no
    groupBy + join back, no driver-side set, no broadcast of a
    corpus-sized dup list); (2) the island numbering windows over the
    doc partition and the final per-span groupBy reuses that partition.
    Docs shorter than ``min_len`` tokens are filtered before the
    explode (Spark's ``sequence(0, n)`` with n<0 would count DOWN).

    ``hash`` picks the gram hash: ``"xxhash64"`` (default) hashes the
    token-array slice directly JVM-side — measured 3.1× faster
    end-to-end than md5 at 1M docs / 40M grams on local[32] (84.6 s
    vs 259.8 s; half the md5 path's cost was the concat_ws string
    build it needs) — while ``"md5"`` (H15 of the space-joined gram)
    is bit-reproducible in DuckDB/Python for cross-engine
    verification. Identical spans either way modulo hash collisions.

    ``keep_first`` is the Lee et al. remove-all-but-one policy: each
    gram's canonical occurrence — the globally smallest (id, pos),
    one more min-struct window aggregate over the SAME gram-hash
    partition (no extra shuffle) — is left unmarked, so scrubbing the
    returned spans with :func:`remove_duplicate_spans` keeps exactly
    one copy of each duplicated passage instead of deleting them all.

    Reference analog: none — Quickwit dedups nothing; this is part of
    the training-pipeline surface (SURVEY §7.1 M7)."""
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be >= 2")
    grams = _gram_rows(df, id_col, text_col, L, _gram_hash(L, hash))
    gw = Window.partitionBy("gh")
    if cross_doc_only:
        dup = F.min(id_col).over(gw) != F.max(id_col).over(gw)
    else:
        dup = F.count(F.lit(1)).over(gw) >= 2
    if keep_first:
        occ = F.struct(F.col(id_col), F.col("pos"))
        dup = dup & (occ != F.min(occ).over(gw))
    marked = grams.withColumn("_dup", dup).where("_dup")
    return _merge_islands(marked, id_col, L)


def _gram_hash(L: int, hash: str) -> str:
    """Seed-gram hash expression over the ``_toks`` array at lambda
    index ``i`` (see duplicate_spans for the xxhash64/md5 tradeoff)."""
    if hash == "xxhash64":
        return f"xxhash64(slice(_toks, i + 1, {L}))"
    if hash == "md5":
        return H15.format(x=f"concat_ws(' ', slice(_toks, i + 1, {L}))")
    raise ValueError(f"unknown hash {hash!r} (xxhash64 or md5)")


def _gram_rows(
    df: DataFrame, id_col: str, text_col: str, L: int, gh: str
) -> DataFrame:
    """(id, pos, gh): one row per length-L token window. Docs shorter
    than L are filtered BEFORE the explode (sequence(0, n) with n<0
    counts down)."""
    return (
        _ensure_parallelism(df)
        .select(F.col(id_col), F.expr(_toks(text_col)).alias("_toks"))
        .where(F.expr(f"size(_toks) >= {L}"))
        .select(
            id_col,
            F.posexplode(
                F.expr(f"transform(sequence(0, size(_toks) - {L}), i -> {gh})")
            ).alias("pos", "gh"),
        )
    )


def _merge_islands(marked: DataFrame, id_col: str, L: int) -> DataFrame:
    """Merge marked gram positions into maximal spans per doc
    (gaps-and-islands over the doc partition; the groupBy reuses the
    window's partitioning so this is ONE shuffle)."""
    dw = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(dw) <= L, 0).otherwise(1)
    island = F.sum(brk).over(
        Window.partitionBy(id_col).orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("_isl", island)
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(L)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def contamination_spans(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    hash: str = "xxhash64",
) -> DataFrame:
    """Span-level DECONTAMINATION: the exact token spans where a
    corpus doc verbatim-overlaps the evaluation set — the
    span-granular complement of :func:`sampling.decontaminate` (which
    only counts k-gram hits per doc): instead of dropping a whole
    document for one contaminated sentence, scrub just the spans with
    :func:`remove_duplicate_spans` and keep the rest.

    Method: corpus and eval seed grams (length ``min_len``, hashed per
    ``hash``) are unioned with a source flag; a corpus gram is
    contaminated when ANY eval gram shares its hash — a max-flag
    window aggregate over the gram-hash partition (eval rows carry a
    null id: corpus/eval id types or collisions never interact).
    Contaminated positions merge gaps-and-islands into maximal spans,
    same as :func:`duplicate_spans`.

    Scale: eval sets are small next to the corpus, so the unioned gram
    table stays O(corpus tokens); same TWO shuffles as
    duplicate_spans. Unlike ``decontaminate``'s broadcast-join, the
    eval side here rides the same gram-hash shuffle — no driver-side
    collection, no broadcast-size ceiling on the eval set."""
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be >= 2")
    gh = _gram_hash(L, hash)
    c = _gram_rows(df, id_col, text_col, L, gh).withColumn("_ev", F.lit(0))
    id_type = dict(c.dtypes)[id_col]
    e = (
        _gram_rows(
            eval_df.select(
                F.lit(None).cast(id_type).alias(id_col), F.col(text_col)
            ),
            id_col,
            text_col,
            L,
            gh,
        )
        .withColumn("_ev", F.lit(1))
    )
    grams = c.unionByName(e)
    gw = Window.partitionBy("gh")
    marked = (
        grams.withColumn("_hit", F.max("_ev").over(gw) == 1)
        .where((F.col("_ev") == 0) & F.col("_hit"))
    )
    return _merge_islands(marked, id_col, L)


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scrub companion to :func:`duplicate_spans`: drop every token
    whose position falls inside a duplicated span and report the
    surviving token stream per doc as (id, n_tokens, n_dup_tokens,
    clean_md5) — ``clean_md5`` is the md5 of the space-joined kept
    tokens, so equality against an oracle verifies the exact stream
    without hauling the text. Docs with no spans pass through with
    n_dup_tokens = 0. (This removes EVERY occurrence; keep-one-copy
    policies need a global occurrence order and belong to the caller.)

    Scale: one groupBy on the span side (span lists are tiny relative
    to text), a co-partitioned LEFT join on the id, then a narrow map —
    the position filter is a higher-order function over the token
    array, zero Python."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
    )
    toks = _toks(text_col)
    kept = (
        f"filter(transform(_toks, (t, i) -> named_struct('t', t, 'i', i)),"
        f" s -> not exists(_sp, p -> s.i >= p.span_start and s.i < p.span_end))"
    )
    empty = "cast(array() as array<struct<span_start:bigint,span_end:bigint>>)"
    return (
        df.select(F.col(id_col), F.expr(toks).alias("_toks"))
        .join(sp, id_col, "left")
        .withColumn("_sp", F.coalesce(F.col("_sp"), F.expr(empty)))
        .select(
            id_col,
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size(F.expr(kept))).cast("long").alias("n_dup_tokens"),
            F.md5(F.expr(f"concat_ws(' ', transform({kept}, s -> s.t))")).alias("clean_md5"),
        )
    )


def exact_dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming counterpart of :func:`exact_dedup`: emit each content
    digest's FIRST-arriving document and drop every later duplicate,
    across micro-batches (ingest-side dedup for a continuously
    arriving corpus — the batch op's min-id keeper policy becomes
    first-seen-wins under arrival order).

    State is one row per distinct digest. With ``ts_col`` set the
    digest state is watermark-bounded (``dropDuplicatesWithinWatermark``
    — a duplicate arriving later than the watermark delay can slip
    through, but state stops growing with corpus size); without it,
    dedup is exact and state grows with the number of DISTINCT
    documents (a digest + row of state each — bounded by content
    volume, not arrival volume, but unbounded over an infinite
    stream: prefer a ``ts_col`` in production).

    Spark-native: the digest is a narrow map and the dedup rides
    Structured Streaming's built-in dropDuplicates state store — no
    custom applyInPandasWithState needed."""
    if not stream.isStreaming:
        raise ValueError("exact_dedup_stream needs a streaming DataFrame; "
                         "use exact_dedup for batch input")
    d = stream.withColumn("_digest", F.md5(F.col(text_col)))
    if ts_col is not None:
        # parquet TIMESTAMP_NTZ cannot carry a watermark (session tz is
        # pinned UTC, so the cast is value-preserving here)
        d = d.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
        d = d.withWatermark(ts_col, watermark)
        return d.dropDuplicatesWithinWatermark(["_digest"]).drop("_digest")
    return d.dropDuplicates(["_digest"]).drop("_digest")


def exact_dedup_stream_replay(
    df: DataFrame,
    batch_col: str = "batch_id",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic batch REPLAY of :func:`exact_dedup_stream`'s
    first-seen-wins state semantics: rows arrive in micro-batches
    ordered by ``batch_col`` (within a batch, arrival order is
    ``id_col`` — callers wanting exact parity with a real stream must
    keep digests unique within a batch, since ``dropDuplicates``
    picks an arbitrary row among same-batch duplicates). The survivor
    of each content digest is the row with the minimum
    (batch, id) arrival key — NOT :func:`exact_dedup`'s min-id keeper:
    a later-id copy that arrived in an EARLIER micro-batch beats the
    smaller id, exactly as the standing digest state would have
    admitted it first.

    One digest shuffle (min-of-struct window over the digest
    partition, same single-exchange shape as :func:`exact_dedup`).
    Tests drive the real ``exact_dedup_stream`` query over per-batch
    files and assert its survivors equal this replay's kept rows.

    Returns (id, batch, keeper_id, kept 1/0) for every input row.
    """
    from pyspark.sql import Window

    win = Window.partitionBy(F.md5(F.col(text_col)))
    arrival = F.struct(
        F.col(batch_col).alias("b"), F.col(id_col).alias("i")
    )
    keeper = F.min(arrival).over(win)
    return df.select(
        id_col,
        batch_col,
        keeper["i"].alias("keeper_id"),
        # the whole arrival key: a redelivered copy of the keeper's id
        # in a later batch is a duplicate, not a second keeper
        (arrival == keeper).cast("long").alias("kept"),
    )


# --------------------------------------------------------------------------
# Incremental dedup: a GROWING corpus dedups each incoming increment
# against a standing index instead of re-scanning itself. At 100 TB the
# re-scan is the difference between a daily job over the increment
# (~0.1% of corpus) and a daily job over everything.
# --------------------------------------------------------------------------


def write_digest_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the standing exact-dedup index: ONE narrow row per
    DISTINCT content digest — ``(digest, keeper_id)`` with keeper = min
    id, exactly :func:`exact_dedup`'s keeper policy. One map-side-
    combined groupBy shuffle over the digest; the stored rows are ~45
    bytes each, so even a 10^12-doc corpus indexes in low-TB.

    On a real deployment, bucket this dataset by digest
    (``df.write.bucketBy(4096, 'digest').sortBy('digest')
    .saveAsTable(...)``) so every increment's probe join co-locates
    without shuffling the index side; plain parquet keeps this
    test-portable (no warehouse/catalog dependency).

    Reference analog: none — Quickwit dedups nothing; training-pipeline
    surface (SURVEY §7.1 M7)."""
    (
        df.select(
            F.md5(F.col(text_col)).alias("digest"),
            F.col(id_col).alias("keeper_id"),
        )
        .groupBy("digest")
        .agg(F.min("keeper_id").alias("keeper_id"))
        .write.mode("overwrite")
        .parquet(path)
    )


def exact_dedup_incremental(
    spark,
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Annotate an incoming batch against the standing digest index
    (:func:`write_digest_index`) WITHOUT rescanning the corpus.

    Returns one row per batch doc:
    ``(id, digest, is_dup_corpus, corpus_keeper_id [null when unseen],
    batch_keeper_id, batch_group_size, keeper_id, is_dup)`` where
    ``keeper_id`` coalesces the corpus keeper over the batch keeper and
    ``is_dup`` marks corpus dups AND within-batch non-keepers — so
    ``where(~is_dup)`` is exactly the set of rows safe to append.

    Plan: the within-batch window and the index probe join both
    partition on the digest, so the batch is shuffled ONCE and reused;
    the index side ships only ``(digest, keeper_id)`` rows (a
    digest-bucketed index makes that side exchange-free; see
    :func:`write_digest_index`)."""
    idx = spark.read.parquet(index_path).withColumnRenamed(
        "keeper_id", "corpus_keeper_id"
    )
    win = Window.partitionBy("digest")
    batch = new_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("digest")
    ).select(
        id_col,
        "digest",
        F.min(id_col).over(win).alias("batch_keeper_id"),
        F.count(F.lit(1)).over(win).alias("batch_group_size"),
    )
    return (
        batch.join(idx, "digest", "left")
        .withColumn("is_dup_corpus", F.col("corpus_keeper_id").isNotNull())
        .withColumn(
            "keeper_id",
            F.coalesce("corpus_keeper_id", "batch_keeper_id"),
        )
        .withColumn(
            "is_dup",
            F.col("is_dup_corpus") | (F.col(id_col) != F.col("batch_keeper_id")),
        )
        .select(
            id_col, "digest", "is_dup_corpus", "corpus_keeper_id",
            "batch_keeper_id", "batch_group_size", "keeper_id", "is_dup",
        )
    )


def append_digest_index(
    spark,
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Extend the standing index with the batch's UNSEEN digests
    (keeper = min batch id per new digest); returns how many digests
    were appended. Idempotent on re-run with the same batch (the
    anti-join sees the previous append). Single-writer append — a
    concurrent-writer deployment needs a commit log around the dataset
    (the search index's ManifestCatalog is that protocol for splits);
    kept out of scope for a plain parquet dataset."""
    existing = spark.read.parquet(index_path).select("digest")
    fresh = (
        new_df.select(
            F.md5(F.col(text_col)).alias("digest"),
            F.col(id_col).alias("keeper_id"),
        )
        .groupBy("digest")
        .agg(F.min("keeper_id").alias("keeper_id"))
        .join(existing, "digest", "left_anti")
    )
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(index_path)
    return n


def minhash_lsh_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    band_size: int = 3,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """Near-dup pairs between an incoming batch and the standing corpus
    — the MinHash+LSH analog of :func:`exact_dedup_incremental`. The
    candidate join is new-bands × corpus-bands ONLY: no corpus×corpus
    pair is ever generated (that work was done when the corpus was
    ingested), so per-increment cost scales with the increment, not
    the corpus. Compose with :func:`minhash_lsh_pairs` over the batch
    alone for within-batch near-dups.

    Same banding scheme, quadratic-bucket guard (applied to EACH
    side's bucket membership) and exact-Jaccard verification as
    :func:`minhash_lsh_pairs`; in production the corpus band table
    ``(band, bucket, id)`` is persisted once and re-read per increment
    rather than recomputed (pass a precomputed ``corpus_df`` view of
    the same shape via ``corpus_bands=``-style staging if needed —
    here the corpus side is computed declaratively for
    verifiability).

    Returns ``(id_new, id_corpus, jaccard)`` with jaccard ≥ threshold
    rounded to 6."""
    n_bands = num_perm // band_size
    cached: list[DataFrame] = []

    def _side(df_: DataFrame) -> tuple[DataFrame, DataFrame]:
        sets_ = _shingle_sets(df_, id_col, text_col, k)
        if persist_intermediates:
            sets_ = sets_.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(sets_)
        sig = _signatures_from_sets(sets_, id_col, num_perm)
        return sets_, _cap_buckets(
            _band_rows(sig, id_col, n_bands, band_size), max_bucket
        )

    sets_new, bands_new = _side(new_df)
    sets_corpus, bands_corpus = _side(corpus_df)
    out = _incremental_verify(
        bands_new, sets_new, bands_corpus, sets_corpus, id_col, threshold
    )
    out._qs_cached = cached
    return out


# --------------------------------------------------------------------------
# Paragraph-level dedup (CCNet, Wenzek et al. 2020): boilerplate
# paragraphs repeated across documents — headers, footers, license
# blurbs — are dropped per-paragraph while the host documents survive.
# Doc-level dedup never fires on these; span-level (duplicate_spans)
# fires but ignores the natural paragraph boundary.
# --------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = r"\n+",
    normalize: bool = True,
) -> DataFrame:
    """One row per non-empty paragraph: ``(id, para_idx, para_digest,
    dup_count, is_keeper, is_dup)``. A paragraph's digest is md5 of its
    CCNet-style normalized form (trim, lowercase, collapse whitespace)
    when ``normalize``; ``is_keeper`` marks the corpus-wide first
    occurrence (min ``(id, para_idx)``) and ``is_dup`` every other
    occurrence of a digest seen ≥2 times. ``para_idx`` indexes the raw
    ``split(text, delim)`` output, so it addresses the original text
    even though empty paragraphs are filtered.

    ONE shuffle: dup_count and the keeper are window aggregates over
    the digest partition (same no-join-back shape as
    :func:`exact_dedup`)."""
    norm = F.trim(F.col("para"))
    if normalize:
        norm = F.regexp_replace(F.lower(norm), r"\s+", " ")
    paras = (
        _ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), delim)).alias(
                "para_idx", "para"
            ),
        )
        .where(F.length(F.trim(F.col("para"))) > 0)
        .select(id_col, "para_idx", F.md5(norm).alias("para_digest"))
    )
    gw = Window.partitionBy("para_digest")
    occ = F.struct(F.col(id_col), F.col("para_idx"))
    return (
        paras.withColumn("dup_count", F.count(F.lit(1)).over(gw))
        .withColumn("is_keeper", occ == F.min(occ).over(gw))
        .withColumn("is_dup", (F.col("dup_count") >= 2) & ~F.col("is_keeper"))
    )


def remove_duplicate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = r"\n+",
    normalize: bool = True,
    min_dup: int = 2,
) -> DataFrame:
    """Scrub duplicated paragraphs corpus-wide, keeping each digest's
    first occurrence (CCNet's dedup applied at paragraph granularity):
    returns ``(id, n_paras, n_removed, text_clean)`` with the kept
    paragraphs re-joined by newline in original order. Paragraphs
    occurring fewer than ``min_dup`` times always survive.

    TWO shuffles: the digest window (from :func:`paragraph_dedup`),
    then the per-doc rebuild groupBy. The rebuild carries paragraph
    TEXT through the digest shuffle (array_join needs it back) — at
    extreme scale prefer marking + a position-filter rebuild against
    the source like :func:`remove_duplicate_spans`; this direct form
    keeps one fewer pass over the corpus."""
    norm = F.trim(F.col("para"))
    if normalize:
        norm = F.regexp_replace(F.lower(norm), r"\s+", " ")
    paras = (
        _ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), delim)).alias(
                "para_idx", "para"
            ),
        )
        .where(F.length(F.trim(F.col("para"))) > 0)
        .withColumn("para_digest", F.md5(norm))
    )
    gw = Window.partitionBy("para_digest")
    occ = F.struct(F.col(id_col), F.col("para_idx"))
    marked = paras.withColumn(
        "_drop",
        (F.count(F.lit(1)).over(gw) >= min_dup) & (occ != F.min(occ).over(gw)),
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(~F.col("_drop"), F.struct(F.col("para_idx"), F.col("para")))
        )
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("_drop").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda s: s.para), "\n"
        ).alias("text_clean"),
    )


def duplication_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    hash: str = "xxhash64",
) -> DataFrame:
    """Per-document duplicated-token fraction — the filtering metric on
    top of :func:`duplicate_spans` (docs past a threshold get dropped
    or down-sampled in curation): ``(id, n_tokens, dup_tokens,
    dup_fraction)`` where dup_tokens sums the doc's maximal duplicated
    spans (disjoint by construction, so the sum is exact coverage) and
    docs with no spans report 0. Adds one token-count map and an id
    join to duplicate_spans' two shuffles."""
    spans = (
        duplicate_spans(
            df, id_col=id_col, text_col=text_col, min_len=min_len, hash=hash
        )
        .groupBy(id_col)
        .agg(F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"))
    )
    toks = _ensure_parallelism(df).select(
        F.col(id_col), F.expr(f"size({_toks(text_col)})").alias("n_tokens")
    )
    return (
        toks.join(spans, id_col, "left")
        .fillna({"dup_tokens": 0})
        .withColumn(
            "dup_fraction",
            F.round(F.col("dup_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)), 6),
        )
        .select(id_col, "n_tokens", "dup_tokens", "dup_fraction")
    )


def _band_rows(sig: DataFrame, id_col: str, n_bands: int,
               band_size: int) -> DataFrame:
    """(id, band, bucket): the LSH banding of a signature frame —
    bucket = md5 of the band's signature slice in perm order (identical
    expression to minhash_lsh_pairs)."""
    return sig.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> named_struct("
                f" 'band', b,"
                f" 'bucket', md5(concat_ws(',',"
                f"   transform(slice(signature, b * {band_size} + 1, {band_size}),"
                f"     v -> cast(v as string))))))"
            )
        ).alias("bb"),
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _cap_buckets(bands: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop band buckets with more than max_bucket members (the
    quadratic-blowup guard; see minhash_lsh_pairs)."""
    if max_bucket is None:
        return bands
    keep = (
        bands.groupBy("band", "bucket").count()
        .where(F.col("count") <= max_bucket)
        .select("band", "bucket")
    )
    return bands.join(keep, ["band", "bucket"])


def _incremental_verify(
    bands_new: DataFrame, sets_new: DataFrame,
    bands_corpus: DataFrame, sets_corpus: DataFrame,
    id_col: str, threshold: float,
) -> DataFrame:
    """new-bands × corpus-bands candidates → exact-Jaccard verify.
    Returns (id_new, id_corpus, jaccard ≥ threshold, rounded 6)."""
    cand = (
        bands_new.select(F.col(id_col).alias("id_new"), "band", "bucket")
        .join(
            bands_corpus.select(
                F.col(id_col).alias("id_corpus"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("id_new", "id_corpus")
        .distinct()
    )
    return (
        cand.join(
            sets_new.select(F.col(id_col).alias("id_new"), F.col("sh").alias("sh_n")),
            "id_new",
        )
        .join(
            sets_corpus.select(
                F.col(id_col).alias("id_corpus"), F.col("sh").alias("sh_c")
            ),
            "id_corpus",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_n", "sh_c")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_n") + F.size("sh_c") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_new", "id_corpus", "jaccard")
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    band_size: int = 3,
    k: int = 3,
) -> None:
    """Persist the corpus side of incremental MinHash dedup: the band
    table ``bands/`` (id, band, bucket) and the shingle sets ``sets/``
    (id, sh) as parquet datasets under ``path``, plus the banding
    params in ``minhash_meta.json`` (probes validate against it —
    a probe banded differently would silently miss everything).

    Written ONCE when the corpus ingests; every later increment probes
    the stored tables (:func:`minhash_lsh_indexed`) instead of
    re-shingling the corpus — the difference between increment-sized
    and corpus-sized daily work at 100 TB. Storage: bands is
    n_docs × n_bands narrow rows; sets is the same order as the corpus
    token volume (needed for exact verification)."""
    import json as _json

    from quickwit_spark.functions import fs as fsio

    sets_ = _shingle_sets(df, id_col, text_col, k)
    sig = _signatures_from_sets(sets_, id_col, num_perm)
    _band_rows(sig, id_col, num_perm // band_size, band_size) \
        .write.mode("overwrite").parquet(fsio.join(path, "bands"))
    sets_.write.mode("overwrite").parquet(fsio.join(path, "sets"))
    fsio.makedirs(path)
    fsio.write_bytes(
        fsio.join(path, "minhash_meta.json"),
        _json.dumps({
            "id_col": id_col, "num_perm": num_perm,
            "band_size": band_size, "k": k,
        }, sort_keys=True).encode(),
    )


def append_minhash_index(
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
) -> None:
    """Fold an (already deduped) increment into the stored MinHash
    index so the NEXT increment sees it. Appends the batch's band rows
    and shingle sets using the index's own recorded params. The caller
    is responsible for id uniqueness across appends (same single-writer
    contract as append_digest_index)."""
    import json as _json

    from quickwit_spark.functions import fs as fsio

    meta = _json.loads(fsio.read_bytes(fsio.join(path, "minhash_meta.json")))
    sets_ = _shingle_sets(new_df, meta["id_col"], text_col, meta["k"])
    sig = _signatures_from_sets(sets_, meta["id_col"], meta["num_perm"])
    _band_rows(sig, meta["id_col"], meta["num_perm"] // meta["band_size"],
               meta["band_size"]) \
        .write.mode("append").parquet(fsio.join(path, "bands"))
    sets_.write.mode("append").parquet(fsio.join(path, "sets"))


def minhash_lsh_indexed(
    spark,
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """Near-dup pairs between an increment and a PERSISTED corpus
    MinHash index (:func:`write_minhash_index`) — the production form
    of :func:`minhash_lsh_incremental`: the corpus is never re-read as
    text, only its stored band table (filtered to the increment's
    buckets by the hash join) and the shingle sets of verified
    candidates move. Returns (id_new, id_corpus, jaccard)."""
    import json as _json

    from quickwit_spark.functions import fs as fsio

    meta = _json.loads(fsio.read_bytes(fsio.join(index_path, "minhash_meta.json")))
    id_col = meta["id_col"]
    cached: list[DataFrame] = []
    sets_new = _shingle_sets(new_df, id_col, text_col, meta["k"])
    if persist_intermediates:
        sets_new = sets_new.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(sets_new)
    sig = _signatures_from_sets(sets_new, id_col, meta["num_perm"])
    bands_new = _cap_buckets(
        _band_rows(sig, id_col, meta["num_perm"] // meta["band_size"],
                   meta["band_size"]),
        max_bucket,
    )
    bands_corpus = _cap_buckets(
        spark.read.parquet(fsio.join(index_path, "bands")), max_bucket
    )
    sets_corpus = spark.read.parquet(fsio.join(index_path, "sets"))
    out = _incremental_verify(
        bands_new, sets_new, bands_corpus, sets_corpus, id_col, threshold
    )
    out._qs_cached = cached
    return out


def start_indexed_dedup_stream(
    spark,
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger: dict | None = None,
):
    """Streaming exact dedup whose state is the STANDING digest index,
    not the state-store: each micro-batch is annotated against the
    index (:func:`exact_dedup_incremental`), the keepers land under
    ``out_path/batch_id=<n>/`` and their digests are appended to the
    index for the next batch.

    vs :func:`exact_dedup_stream` (dropDuplicates state): the index is
    a queryable, shareable dataset — batch jobs, other streams, and
    ad-hoc `exact_dedup_incremental` calls dedup against the SAME
    state, and it survives checkpoint loss. Replay-idempotent by
    construction: the keep condition is ``keeper_id == id`` (the doc
    is its own canonical copy), which stays TRUE when a crashed batch
    replays after its own digests were appended — the doc's corpus
    keeper is then itself — while a genuine duplicate keeps pointing
    at the earlier keeper; the per-batch output dir is overwritten on
    replay and ``append_digest_index`` is idempotent per digest.
    ``trigger`` defaults to availableNow (drain + stop)."""
    import os as _os

    def handle(batch_df, batch_id: int):
        ann = exact_dedup_incremental(
            spark, batch_df, index_path, id_col, text_col
        )
        keepers = batch_df.join(
            ann.where(F.col("keeper_id") == F.col(id_col)).select(id_col),
            id_col,
        )
        keepers.write.mode("overwrite").parquet(
            _os.path.join(out_path, f"batch_id={batch_id}")
        )
        append_digest_index(spark, keepers, index_path, id_col, text_col)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
