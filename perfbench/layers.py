"""The layer -> end-to-end metric -> workload map.

``BENCHMARK.json`` holds every metric's name, unit and direction;
``tag`` says, for a per-layer metric, which end-to-end metric it should
move and on which workload it is live. A traced run prints one ``tag``
line per per-layer metric from this map. A layer the traced workload
does not run reads 0 (for example ``curate.near_s`` on ``query_mix``).
"""

from __future__ import annotations

# the registry queries of query_mix: one or two per operator family
# (lattice, gap filling, rolling windows, downsampling, smoothing,
# sessions, codecs, dedup, vector search, packing, ranking)
QUERIES = (
    "rollup_lattice",
    "gapfill_1h",
    "rolling_1h",
    "m4_downsample_1h",
    "ewma_text_len",
    "lttb_12",
    "sessionize",
    "codec_roundtrip",
    "doc_minhash_pairs",
    "ivf_topk_trained",
    "pack_nextfit",
    "rfm_users",
)
CURATE_STAGES = ("input", "exact", "near", "quality", "train", "decontam", "packed")
PIPELINE_SPANS = ("run_pipeline_fresh", "rollup_backfill", "curate_corpus")

P, Q = "production", "query_mix"
FRESH = "job_s, points_per_s"
BACKFILL = "query_p50_s, query_p90_s, queries_per_s"
CURATE = "the curate job's wall (traced only, not gated)"
QUERY = "query_p50_s, query_p90_s, queries_per_s, job_s"

# (metric name or prefix, moves, workload); the first match wins
_TAGS = (
    ("host.sentinel_s", "diagnostic only", "both"),
    ("trace.overhead_s", "job_s (traced minus untraced)", "both"),
    ("storage.retained_mb", "the walls of later calls", "both"),
    ("pipeline.scaling_eff_1to4", "diagnostic only", P),
    ("sources.", FRESH, P),
    ("normalize.", f"{FRESH}; {BACKFILL} (the backfill re-normalizes all input)", P),
    ("signals.", f"{FRESH}; {BACKFILL}", P),
    ("checkpoint.fingerprint_s", f"{FRESH}; {BACKFILL}", P),
    ("checkpoint.changed_partitions", BACKFILL, P),
    ("checkpoint.affected_convs", BACKFILL, P),
    ("checkpoint.", FRESH, P),
    ("tiers.", f"query_p90_s (rollup_lattice) on {Q}; {FRESH} on {P}", "both"),
    ("codec_ops.python_udf_s", f"{FRESH} on {P}; query_p50_s via codec_roundtrip on {Q}", "both"),
    ("codec_ops.", f"{FRESH} (the codec branch overlaps the lattice)", P),
    ("curate.", CURATE, P),
    ("span.run_pipeline_fresh.", FRESH, P),
    ("span.rollup_backfill.", BACKFILL, P),
    ("span.curate_corpus.", CURATE, P),
    ("query.", QUERY, Q),
)


def tag(name: str) -> tuple[str, str]:
    """(end-to-end metrics it moves, workload it is live on)."""
    for key, moves, workload in _TAGS:
        if name == key or (key.endswith(".") and name.startswith(key)):
            return moves, workload
    raise KeyError(f"no tag for per-layer metric {name!r}")
