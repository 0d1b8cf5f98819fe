"""Training-corpus curation flagship: the end-to-end document pipeline.

Chains the engine's LLM-data operators into the canonical curation job
(the web-scale counterpart of the rollup flagship in plans/pipeline.py):

    input -> exact dedup -> MinHash-LSH near-dup closure -> quality /
    repetition filter -> hash split -> decontamination (train vs the
    held-out test split) -> next-fit sequence packing

Three entry points:

- :func:`curate_stages` — the lazy stage DataFrames (shared per-stage
  step functions, so the stats query, the materializing job, and the
  DuckDB oracle can never drift apart);
- :func:`curate_stats` — one DataFrame of (stage, n_rows) per-stage
  row counts; pure (no writes), driver-oracle-checked end-to-end;
- :func:`curate_corpus` — the resumable spark-submit job: each stage
  materializes to parquet under ``out_root`` with a manifest entry
  keyed by the input-corpus fingerprint (same tmp-then-rename commit
  and lineage treatment as the rollup checkpoints,
  plans/checkpoint.py); a rerun skips every stage whose manifest
  fingerprint still matches, so a job that died after stage k resumes
  at stage k+1 reading stage k's parquet.

Scale notes: every stage is the already-audited operator (one
hash-shuffle exact dedup, banded LSH with the giant-bucket guard,
closure on the pair set only, broadcast held-out shingles, map-side
split, bucket-parallel packing); the pipeline adds no new shuffle — the
stage boundaries are parquet materializations, which at 10^12 tokens is
what makes the job resumable at all.

Thresholds are integer-safe where they gate rows (decontamination uses
``2*n_hit <= n_grams``, not a float ratio) so Spark and DuckDB agree
bit-for-bit.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.functions.text import quality_score, repetition_score
from aroma_spark.operators.clusters import dedup_survivors
from aroma_spark.operators.dedup import exact_text_dedup, minhash_lsh_pairs
from aroma_spark.operators.decontam import ngram_overlap
from aroma_spark.operators.packing import pack_nextfit
from aroma_spark.operators.splits import with_split
from aroma_spark.plans.checkpoint import (
    fs_exists,
    load_manifest,
    write_manifest,
)

STAGE_ORDER = (
    "input",
    "exact",
    "near",
    "quality",
    "train",
    "decontam",
    "packed",
)


def _stage_exact(d0: DataFrame) -> DataFrame:
    """Exact dedup: min-id survivor per distinct text (one hash shuffle)."""
    return d0.join(exact_text_dedup(d0).select("doc_id"), "doc_id", "left_semi")


def _stage_near(d1: DataFrame) -> DataFrame:
    """Near-dup closure: LSH candidate pairs -> connected components ->
    cluster-min survivors (unpaired docs pass through untouched)."""
    pairs = minhash_lsh_pairs(d1)
    return d1.join(dedup_survivors(d1, pairs), "doc_id", "left_semi")


def _stage_quality(
    d2: DataFrame, quality_min: float, repetition_max: float
) -> DataFrame:
    """Cheap quality gates (C4/Gopher-style): composite score + duplicate
    n-gram fraction, both map-only Catalyst.

    r6 optimization: both scores are appended in ONE projection chain
    over a parallelism-spread input instead of the old
    score-then-self-join-twice shape — the upstream stage parquet is a
    single coalesced file, so the joins ran the (expensive: regex +
    n-gram transform) scoring single-task three reads deep; same
    surviving rows, zero joins, all cores (guide §2.4/§2.5)."""
    from aroma_spark.operators.dedup import _spread_small_input

    base = _spread_small_input(d2)
    if base is not d2:
        # single-split input: pin the spread. Catalyst substitutes the
        # score expressions into the WHERE below and pushes the
        # (CodegenFallback-interpreted, expensive) predicate through the
        # round-robin exchange back into the one-task scan — measured
        # 32.5 s single-core vs ~2 s spread at sf1.0. The checkpoint is
        # a barrier pushdown cannot cross; a no-op at real input sizes
        # (the spread itself doesn't fire).
        base = base.localCheckpoint()
    scored = repetition_score(quality_score(base))
    return (
        scored.where(
            (F.col("quality_score") >= quality_min)
            & (F.col("repetition") <= repetition_max)
        )
        .select("doc_id", "text")
    )


def _stage_train(d3: DataFrame) -> DataFrame:
    """Deterministic hash split; train is the corpus we keep curating."""
    return (
        with_split(d3, "doc_id")
        .where(F.col("split") == "train")
        .select("doc_id", "text")
    )


def _stage_decontam(d4: DataFrame, d3: DataFrame) -> DataFrame:
    """Drop train docs sharing more than half their distinct 3-grams with
    any held-out (test-split) doc — integer-safe threshold; docs too
    short to have 3-grams carry no evidence and are kept."""
    heldout = (
        with_split(d3, "doc_id")
        .where(F.col("split") == "test")
        .select("doc_id", "text")
    )
    ov = ngram_overlap(d4, heldout)
    contaminated = ov.where(F.col("n_hit") * 2 > F.col("n_grams")).select(
        "doc_id"
    )
    return d4.join(contaminated, "doc_id", "left_anti")


def _stage_packed(d5: DataFrame, budget: int, n_buckets: int) -> DataFrame:
    return pack_nextfit(d5, budget=budget, n_buckets=n_buckets)


def _step(
    name: str,
    inputs: dict[str, DataFrame],
    quality_min: float,
    repetition_max: float,
    pack_budget: int,
    pack_buckets: int,
) -> DataFrame:
    """Compute one stage from its (materialized or lazy) upstream frames."""
    if name == "exact":
        return _stage_exact(inputs["input"])
    if name == "near":
        return _stage_near(inputs["exact"])
    if name == "quality":
        return _stage_quality(inputs["near"], quality_min, repetition_max)
    if name == "train":
        return _stage_train(inputs["quality"])
    if name == "decontam":
        return _stage_decontam(inputs["train"], inputs["quality"])
    if name == "packed":
        return _stage_packed(inputs["decontam"], pack_budget, pack_buckets)
    raise ValueError(f"unknown stage: {name}")


def curate_stages(
    docs: DataFrame,
    quality_min: float = 0.5,
    repetition_max: float = 0.2,
    pack_budget: int = 256,
    pack_buckets: int = 8,
) -> dict[str, DataFrame]:
    """The in-memory curation chain. Keys follow :data:`STAGE_ORDER`;
    every value except ``packed`` is a (doc_id, text) survivor frame,
    ``packed`` is the pack_nextfit output over the final survivors.

    Each survivor frame is localCheckpointed, so a consumer touching
    several stages (curate_stats counts all seven) computes each stage
    once instead of re-deriving the whole prefix per action — the
    in-memory analog of the parquet stage boundaries
    :func:`curate_corpus` writes."""
    frames: dict[str, DataFrame] = {"input": docs.select("doc_id", "text")}
    for name in STAGE_ORDER[1:]:
        out = _step(
            name, frames, quality_min, repetition_max, pack_budget, pack_buckets
        )
        if name != "packed":
            out = out.localCheckpoint()
        frames[name] = out
    return frames


def curate_stats(
    docs: DataFrame,
    quality_min: float = 0.5,
    repetition_max: float = 0.2,
    pack_budget: int = 256,
    pack_buckets: int = 8,
) -> DataFrame:
    """(stage, n_rows) for every curation stage — the driver-checked
    end-to-end query. ``packed`` counts the distinct training sequences
    (bins), every other stage counts surviving documents."""
    stages = curate_stages(
        docs, quality_min, repetition_max, pack_budget, pack_buckets
    )
    parts = []
    for name in STAGE_ORDER:
        df = stages[name]
        if name == "packed":
            agg = df.agg(
                F.countDistinct("bucket", "bin_idx").cast("long").alias("n_rows")
            )
        else:
            agg = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        parts.append(agg.select(F.lit(name).alias("stage"), "n_rows"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _corpus_fingerprint(docs: DataFrame) -> str:
    """Order-independent corpus fingerprint: row count + bit_xor of the
    64-bit row hash — one map-side-combined aggregation, a single tiny
    row to the driver (same construction as checkpoint.partition_
    fingerprints, without the per-day key)."""
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "text")).alias("fp"),
    ).collect()[0]
    return f"{row['n']}|{row['fp']}"


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    quality_min: float = 0.5,
    repetition_max: float = 0.2,
    pack_budget: int = 256,
    pack_buckets: int = 8,
) -> dict:
    """Materialize the curation chain stage-by-stage under ``out_root``,
    resumably. Returns the per-stage lineage metrics.

    Each stage writes ``out_root/stage=<name>`` (parquet) and records
    ``{src: corpus_fingerprint, rows, written_at}`` in the ``curate``
    manifest (tmp-then-rename commit via the Hadoop FS API, object-store
    safe). On rerun, a stage whose manifest fingerprint matches the
    current corpus is NOT recomputed — its parquet feeds the downstream
    stages — so a killed job resumes after its last committed stage,
    and an input change invalidates every stage at once (the chain is
    global: any document can alter LSH buckets and packing downstream,
    so per-stage partial invalidation would be unsound). A stage is only
    trusted if every stage before it is also fresh (``upstream_fresh``),
    which makes a half-written run self-healing rather than silently
    mixing generations. The fingerprint covers the *parameters* too —
    rerunning with a different threshold or packing budget must
    invalidate, not silently reuse the old thresholds' stages.
    """
    fp = (
        f"{_corpus_fingerprint(docs)}|q={quality_min}|r={repetition_max}"
        f"|b={pack_budget}|k={pack_buckets}"
    )
    manifest = load_manifest(spark, out_root, "curate")
    metrics: dict[str, dict] = {}
    frames: dict[str, DataFrame] = {}

    upstream_fresh = True
    for name in STAGE_ORDER:
        t0 = time.time()
        path = f"{out_root}/stage={name}"
        entry = manifest.get(name)
        fresh = (
            upstream_fresh
            and entry is not None
            and entry.get("src") == fp
            and fs_exists(spark, path)
        )
        if fresh:
            frames[name] = spark.read.parquet(path)
            metrics[name] = {
                "rows": entry["rows"],
                "skipped": True,
                "wall_sec": round(time.time() - t0, 3),
            }
            continue
        upstream_fresh = False
        if name == "input":
            out = docs.select("doc_id", "text")
        else:
            out = _step(
                name, frames, quality_min, repetition_max,
                pack_budget, pack_buckets,
            )
        out.write.mode("overwrite").parquet(path)
        frames[name] = spark.read.parquet(path)
        n = frames[name].count()
        manifest[name] = {
            "src": fp,
            "rows": n,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        write_manifest(spark, out_root, "curate", manifest)
        metrics[name] = {
            "rows": n,
            "skipped": False,
            "wall_sec": round(time.time() - t0, 3),
        }
    return metrics
