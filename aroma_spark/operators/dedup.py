"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

- exact: one hash-shuffle on md5(text) — dedup 100 TB without ever
  comparing texts pairwise;
- n-gram Jaccard: exact pairwise similarity via a shingle-inverted
  index (explode -> self-join on shingle -> per-pair intersection
  counts). Quadratic in bucket size — the *verifier*, not the scale path;
- MinHash+LSH: the scale path — k md5-salted min-hashes, banded into
  LSH buckets; candidate pairs only ever meet inside a bucket join, so
  the shuffle carries (band_key, doc) pairs, never the cross product;
- SimHash: 32-bit signed-projection fingerprint; near-dups differ in
  few bits.

Everything is md5-based and engine-portable: the DuckDB oracles in
``aroma_spark.registry.dedup`` reproduce identical signatures, buckets,
and pairs.

The reference's only dedup is full-record removal
(src/aroma/datasets/breakfast.py:597-618 — covered by
aroma_spark.operators.normalize); these are its web-scale
generalizations required by the task brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_HASHES = 12
BAND_SIZE = 4  # -> 3 bands

# Giant-bucket cap: joins keyed on a shingle or LSH band key go
# quadratic in the bucket size, and template/boilerplate text floods
# single buckets at corpus scale ("of the and" appears in everything).
# Keys over the cap are dropped from the candidate join — standard
# practice (they carry no dedup signal; a shingle shared by millions of
# docs identifies nothing). The default sits far above any oracle
# fixture's max document frequency, so the driver-checked queries stay
# hash-exact; at 100 TB set it to ~(corpus_docs * 1e-5) or measure with
# :func:`giant_buckets`.
MAX_KEY_DF = 10_000


def giant_buckets(keyed: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """(key..., n_docs) for join keys whose bucket exceeds ``cap`` — the
    keys the guarded joins will drop. One map-side-combined aggregation;
    the result is pathological-keys-sized (tiny), which is what makes
    the broadcast anti-join in the guarded paths map-side."""
    return (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") > cap)
    )


def _drop_giant_buckets(
    keyed: DataFrame, key_cols: list[str], cap: int | None
) -> DataFrame:
    """Remove rows whose join key exceeds the document-frequency cap.

    No silent data loss: only *join keys* are dropped, never documents —
    every doc keeps its other shingles/bands. Callers wanting the count
    of dropped keys run :func:`giant_buckets` (same plan, one aggregate).
    """
    if cap is None:
        return keyed
    big = giant_buckets(keyed, key_cols, cap).select(*key_cols)
    return keyed.join(F.broadcast(big), key_cols, "left_anti")


def exact_text_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep min(id) per distinct text (hash-group, no pairwise compare)."""
    return (
        df.groupBy(F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select(id_col, "text_hash", "n_copies")
    )


def normalized_text_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup under whitespace/case normalization: lowercase,
    collapse runs of whitespace to one space, trim — the cheap canonical
    form that catches re-wrapped / re-cased copies an md5-of-raw-bytes
    dedup misses, still one hash shuffle and zero pairwise compares
    (same fp_norm as functions.text.fingerprint)."""
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
        )
    )
    return (
        df.groupBy(F.md5(norm).alias("norm_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select(id_col, "norm_hash", "n_copies")
    )


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan has fewer splits than cores.

    The shingle/token explode + per-doc hash aggregation do ~50x the
    scan's work, all inside the scan stage — a small single-file input
    (one split) would run it on one core. At real scale the scan already
    has >= parallelism splits and this is a no-op; the guard keeps the
    full-corpus shuffle from ever firing there."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document.

    0-based array indexing (Spark SQL); the DuckDB oracle uses 1-based —
    kept in lockstep in ``aroma_spark.registry.dedup``.

    The words array is materialized once per row and sliced per shingle
    — the lambda must not re-split the text per element (no common-
    subexpression elimination inside higher-order functions; measured
    O(len^2) per doc, 3x the stage time at sf0.1).
    """
    df = _spread_small_input(df)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = F.expr(
        f"transform(sequence(0, size(__words) - {n}), "
        f"i -> concat_ws(' ', slice(__words, i + 1, {n})))"
    )
    return (
        df.withColumn("__words", words)
        .where(F.size("__words") >= n)
        .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def _shared_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) for every pair sharing a
    sub-cap shingle: the inverted-index self-join with its per-document
    shingle counts, ``doc_a < doc_b``."""
    sh = word_shingles(df, id_col, text_col, n)
    if max_shingle_df is not None:
        # one shingle materialization feeds the guard aggregation, the
        # size aggregation, and both join sides (same reuse pattern as
        # minhash_lsh_pairs)
        sh = sh.localCheckpoint()
    # lazy and owned by the returned frame: the ContextCleaner frees the
    # blocks once the result is unreachable (a .cache() entry would stay
    # in the CacheManager, pinning the checkpoint above with it)
    sh = _drop_giant_buckets(sh, ["shingle"], max_shingle_df).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = MAX_KEY_DF,
) -> DataFrame:
    """Exact Jaccard over distinct word n-grams for all candidate pairs.

    inverted-index self-join: pairs only materialize when they share at
    least one shingle. For web scale, run it AFTER MinHash-LSH bucketing
    (minhash_lsh_pairs) to bound the candidate set.

    ``max_shingle_df`` drops shingles whose document frequency exceeds
    the cap *before* the self-join (the giant-bucket guard — one
    stopword shingle would otherwise go quadratic). Jaccard is then
    measured over the sub-cap shingle universe (sizes and intersections
    both filtered, so the ratio stays internally consistent); ``None``
    disables the guard.
    """
    out = (
        _shared_shingles(df, id_col, text_col, n, max_shingle_df)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _minhash_wide(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int
) -> DataFrame:
    """(id, m0..m{k-1}): all k salted-md5 min-hashes in ONE aggregation.

    min over fixed-width lowercase hex strings == min over the 128-bit
    values — portable across engines with zero custom hashing.

    The shingle stream is shuffled exactly once at its natural size —
    the earlier explode(sequence(0,k-1)) shape materialized k x the
    shingle rows before the (doc, hash_idx) shuffle (same pattern as
    the SimHash fix; map-side partials combine per doc)."""
    sh = word_shingles(df, id_col, text_col)
    return sh.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
            ).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(id, band, band_key): LSH bucket keys — md5 of the ordered band
    slice, computed directly from the wide min-hash row (no second
    shuffle; the old long-form path re-grouped by (id, band))."""
    wide = _minhash_wide(df, id_col, text_col, n_hashes)
    n_bands = n_hashes // band_size
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"m{b * band_size + j}") for j in range(band_size)]
            )
        ).alias(f"bk{b}")
        for b in range(n_bands)
    ]
    stack = ", ".join(f"{b}, bk{b}" for b in range(n_bands))
    return wide.select(id_col, *band_cols).select(
        id_col, F.expr(f"stack({n_bands}, {stack}) AS (band, band_key)")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket_size: int | None = MAX_KEY_DF,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band bucket.

    The join is per band_key — the only shuffle key. ``max_bucket_size``
    drops (band, band_key) buckets larger than the cap before the
    self-join (the giant-bucket guard: one template-text bucket of n
    docs costs n^2 pairs — at the cap that is already 10^8 for the
    default; beyond it the bucket is noise, not dedup signal). AQE
    skew-join only rebalances tasks, it cannot shrink the pair count.
    """
    bands = minhash_band_keys(df, id_col, text_col, n_hashes, band_size)
    if max_bucket_size is not None:
        # materialize the band keys once: the guard aggregation and BOTH
        # self-join sides would otherwise each re-run the full
        # shingle+minhash pipeline (measured 10.6s -> ~2x faster at
        # sf0.1); the checkpointed frame is (id, band, band_key) — tiny
        # relative to the shingle stream it replaces
        bands = bands.localCheckpoint()
    bands = _drop_giant_buckets(bands, ["band", "band_key"], max_bucket_size)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=["band", "band_key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """32-bit SimHash over word tokens (with multiplicity).

    Per token: 32-bit hash from the md5 hex prefix; per bit: sign of the
    +1/-1 vote sum; fingerprint = the sign bits.

    One aggregation with ``bits`` conditional-sum columns — vote_i =
    2*sum(bit_i) - n_tokens — so the token stream is shuffled exactly
    once at its natural size (the earlier explode(sequence(0,31)) shape
    amplified the shuffle 32x; map-side partial agg now combines per
    doc before the exchange)."""
    words = _spread_small_input(df).select(
        id_col,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    h = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
    votes = words.select(id_col, h.alias("h")).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.expr(f"shiftright(h, {i}) & 1")).alias(f"s{i}")
            for i in range(bits)
        ],
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        # vote_i > 0  <=>  2*s_i - n_tok > 0
        fp = fp + F.when(
            F.col(f"s{i}") * 2 > F.col("n_tok"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(id_col, fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded by byte.

    Two 32-bit hashes within hamming distance 3 share at least one of
    their 4 bytes — join per byte-band, then exact popcount filter.
    """
    sh = simhash(df, id_col, text_col)
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("byte_idx"),
    ).withColumn("byte_val", F.expr("shiftright(simhash, byte_idx * 8) & 255"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, on=["byte_idx", "byte_val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def editdist_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 16,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket_size: int | None = MAX_KEY_DF,
) -> DataFrame:
    """LSH candidates verified by exact Levenshtein distance.

    The two-stage shape every production near-dup pipeline uses: MinHash
    LSH proposes candidate pairs (:func:`minhash_lsh_pairs` — docs only
    ever meet inside a band bucket), then the exact-but-quadratic
    verifier runs ONLY on those pairs. Levenshtein is O(|a|*|b|) per
    pair, so it must never see the corpus cross product — at 100 TB the
    pair set is LSH-bounded (bands * bucket-cap choose 2 per bucket)
    while the verify stage is an embarrassingly parallel projection over
    it: two hash joins to fetch the texts (each keyed on the id, the
    same key the corpus is already partitioned by), zero extra state.

    Returns (doc_a, doc_b, len_a, len_b, edit_dist, is_dup) with
    ``is_dup = edit_dist <= max_dist``. All outputs are exact integers /
    booleans (``F.levenshtein`` is the classic character-level DP, the
    same definition DuckDB's ``levenshtein`` implements), so the DuckDB
    twin is hash-exact.

    Complements :func:`ngram_jaccard_pairs` (set-overlap verifier, order
    insensitive) with an edit-based verdict that catches small in-place
    edits reorderings would hide; the reference's only dedup is
    full-record equality (src/aroma/datasets/breakfast.py:597-618).
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n_hashes, band_size, max_bucket_size
    )
    texts = df.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("__t")
    )
    joined = (
        pairs.join(
            texts.select(
                F.col(id_col).alias("doc_a"), F.col("__t").alias("text_a")
            ),
            "doc_a",
        )
        .join(
            texts.select(
                F.col(id_col).alias("doc_b"), F.col("__t").alias("text_b")
            ),
            "doc_b",
        )
    )
    dist = F.levenshtein(F.col("text_a"), F.col("text_b")).cast("long")
    return joined.select(
        "doc_a",
        "doc_b",
        F.length("text_a").cast("long").alias("len_a"),
        F.length("text_b").cast("long").alias("len_b"),
        dist.alias("edit_dist"),
        (dist <= F.lit(max_dist)).alias("is_dup"),
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = MAX_KEY_DF,
) -> DataFrame:
    """Broder max-containment over distinct word n-grams:
    C(A,B) = |A ∩ B| / min(|A|, |B|) — the ASYMMETRIC near-dup
    measure that catches a short document quoted wholesale inside a
    long one, which Jaccard structurally cannot (the union in its
    denominator is dominated by the long side).

    Same inverted-index candidate generation, giant-bucket guard, and
    one-materialization discipline as :func:`ngram_jaccard_pairs`
    (pairs exist only when they share a sub-cap shingle); the score
    keeps the exact int64 triple (n_inter, n_a, n_b) in the output so
    the float is auditable.

    Emits ``doc_a, doc_b, n_inter, n_a, n_b, containment`` for pairs
    with containment >= ``threshold``.
    """
    joined = _shared_shingles(df, id_col, text_col, n, max_shingle_df)
    scored = joined.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_a",
        "n_b",
        F.round(
            F.col("n_inter").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
            6,
        ).alias("containment"),
    )
    return scored.where(F.col("containment") >= threshold)


def lsh_candidate_quality(df: DataFrame) -> DataFrame:
    """Honest-quality audit of the MinHash-LSH banding: bucket every
    candidate pair by its TRUE n-gram Jaccard — the
    precision-vs-recall evidence behind the banding parameters
    (a histogram piled at low Jaccard says the bands are too
    permissive; verify-stage cost explodes) — the same
    honest-accuracy discipline as text.langid_confusion, applied to
    the dedup index.

    Candidates come from :func:`minhash_lsh_pairs` unchanged; their
    exact Jaccard joins in from :func:`ngram_jaccard_pairs` at
    threshold 0 (candidates that share no sub-cap shingle score 0).
    Buckets are floor(jaccard * 10) on the 6-rounded value — bucket
    10 is exact duplicates.

    Emits ``jaccard_bucket, n_pairs``.
    """
    cand = minhash_lsh_pairs(df).select("doc_a", "doc_b")
    jac = ngram_jaccard_pairs(df, threshold=0.0).select(
        "doc_a", "doc_b", "jaccard"
    )
    j = cand.join(jac, ["doc_a", "doc_b"], "left").select(
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("j")
    )
    return (
        j.select(
            F.floor(F.col("j") * F.lit(10)).cast("long").alias("jaccard_bucket")
        )
        .groupBy("jaccard_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def dedup_savings_by_source(documents: DataFrame) -> DataFrame:
    """What would exact dedup actually RECLAIM, per source — the
    capacity-planning number the dedup family's pair/cluster reports
    don't state: for each source, total bytes, the bytes occupied by
    redundant copies (every row of a duplicate group beyond the
    first), and the share of the source that evaporates under
    keep-one exact dedup.

    One (source, md5(text)) aggregation — same single-shuffle shape
    as exact dedup itself — then a |sources|-row rollup. Group bytes
    are n * n_chars (identical text ⇒ identical length), so the
    redundant slice is exactly (n - 1) * n_chars, all int64.

    Emits ``source, n_docs, n_distinct, total_bytes,
    redundant_bytes, savings_share``.
    """
    groups = documents.groupBy(
        "source", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(F.col("n_chars")).cast("long").alias("doc_bytes"),
    )
    agg = groups.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("n") * F.col("doc_bytes"))
        .cast("long")
        .alias("total_bytes"),
        F.sum((F.col("n") - 1) * F.col("doc_bytes"))
        .cast("long")
        .alias("redundant_bytes"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct",
        "total_bytes",
        "redundant_bytes",
        F.expr(
            "CASE WHEN total_bytes > 0 THEN"
            " round(CAST(redundant_bytes AS DOUBLE)"
            " / CAST(total_bytes AS DOUBLE), 6) END"
        ).alias("savings_share"),
    )


def dup_rate_by_length(documents: DataFrame) -> DataFrame:
    """Duplication pressure as a function of document SIZE: per
    power-of-two length bucket, how many documents are redundant
    copies under exact dedup — is the corpus's duplication living in
    short boilerplate or in long mirrored articles? (Short-template
    floods and wholesale mirror scrapes need different upstream
    fixes; the marginal dup rate can't say which.)

    Same single md5 shuffle as exact dedup; every group member
    shares one length (identical text), so the group classifies
    whole buckets. All int64; the rate is one shared float.

    Emits ``bucket, lo_chars, n_docs, n_redundant, dup_rate``.
    """
    groups = documents.groupBy(
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(F.col("n_chars")).cast("long").alias("doc_chars"),
    )
    hist = groups.groupBy(
        F.expr(
            "CAST(CASE WHEN doc_chars > 0 THEN"
            " length(bin(doc_chars)) - 1 ELSE 0 END AS INT)"
        ).alias("bucket")
    ).agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.col("n") - 1).cast("long").alias("n_redundant"),
    )
    return hist.select(
        "bucket",
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket) AS BIGINT)")
        .alias("lo_chars"),
        "n_docs",
        "n_redundant",
        F.expr(
            "round(CAST(n_redundant AS DOUBLE)"
            " / CAST(n_docs AS DOUBLE), 6)"
        ).alias("dup_rate"),
    )
