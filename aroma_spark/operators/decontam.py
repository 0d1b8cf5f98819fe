"""Decontamination: n-gram overlap of a training corpus against a
held-out / benchmark set.

Benchmark leakage is checked by counting word n-grams a training
document shares with any held-out document (GPT-3's 13-gram and
standard 8-gram decontamination are instances of this shape); documents
over an overlap threshold are dropped from training.

The reference has no analog (its datasets are fixed research corpora);
this is a training-data extension mandated by the task brief, composed
from the same shingle machinery as the dedup family
(operators/dedup.word_shingles).

Scale design (100 TB): the held-out side is a benchmark suite — tiny
relative to the corpus — so its *distinct* shingle set broadcasts and
the corpus shingle stream is filtered map-side (broadcast hash join, no
corpus shuffle); only (doc_id, count) partials reach the exchange. For
a held-out set too large to broadcast, :func:`ngram_overlap_bloom`
probes a fixed-size bitmap of it instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aroma_spark.operators.dedup import word_shingles


def ngram_overlap(
    corpus: DataFrame,
    heldout: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per corpus document: distinct n-gram count, how many of those
    n-grams appear anywhere in ``heldout``, and the overlap fraction.

    Documents with fewer than ``n`` words have no n-grams and are
    excluded (they carry no overlap evidence either way).
    """
    c_sh = word_shingles(corpus, id_col, text_col, n)
    h_sh = (
        word_shingles(heldout, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        c_sh.join(F.broadcast(h_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("overlap"),
        )
    )


def _bloom_positions(num_bits: int, k: int):
    """k bit positions per shingle, all hashing JVM-side (salted
    xxhash64 pmod num_bits) so build and probe can never disagree."""
    return F.array(
        *[
            F.pmod(
                F.xxhash64(F.concat(F.lit(f"bloom{i}:"), F.col("shingle"))),
                F.lit(num_bits),
            )
            for i in range(k)
        ]
    )


def ngram_overlap_bloom(
    corpus: DataFrame,
    heldout: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 1 << 23,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter variant of :func:`ngram_overlap` for held-out sets
    too large to broadcast exactly: the held-out shingle set folds into
    a ``num_bits``-bit bitmap (1 MiB at the default 2^23, regardless of
    set size), which rides into an Arrow ``mapInPandas`` closure; the
    corpus stream probes it map-side.

    Build cost is bounded by the BITMAP, not the held-out set: the
    distinct set-bit positions (≤ min(k·|heldout|, num_bits) longs)
    are the only thing collected. Bit positions are salted xxhash64
    pmod num_bits computed JVM-side for both build and probe — no
    Python hashing, engine-consistent by construction; the probe tests
    bits vectorized in numpy per Arrow batch.

    Approximate by construction — false positives OVERCOUNT overlap
    (never undercount: every true shingle's bits are set), so a
    threshold filter built on it is conservative: it can only drop
    extra docs, never leak a contaminated one. Size ``num_bits``/``k``
    for the target false-positive rate ((1-e^{-kn/m})^k); the exact
    path remains the oracle-checked default."""
    import numpy as np
    import pandas as pd

    pos_expr = _bloom_positions(num_bits, k)
    set_bits = (
        word_shingles(heldout, id_col, text_col, n)
        .select(F.explode(pos_expr).alias("p"))
        .distinct()
        .toPandas()["p"]
        .to_numpy()
    )
    bitmap = np.zeros(num_bits // 8, dtype=np.uint8)
    if len(set_bits):
        np.bitwise_or.at(
            bitmap, set_bits >> 3, (1 << (set_bits & 7)).astype(np.uint8)
        )

    c_sh = word_shingles(corpus, id_col, text_col, n).withColumn(
        "__pos", pos_expr
    )
    id_type = corpus.schema[id_col].dataType.simpleString()

    def probe(it):
        for pdf in it:
            if not len(pdf):
                continue
            P = np.stack(pdf["__pos"].to_numpy()).astype(np.int64)
            hit = np.all(
                bitmap[P >> 3] & (1 << (P & 7)).astype(np.uint8) != 0, axis=1
            )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "__hit": hit.astype("int64")}
            )

    probed = c_sh.mapInPandas(probe, f"{id_col} {id_type}, __hit long")
    return (
        probed.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("__hit").cast("long").alias("n_hit"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("overlap"),
        )
    )

