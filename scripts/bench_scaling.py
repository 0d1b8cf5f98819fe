"""Two-parallelism scaling benchmark -> BENCH/BASELINE.md.

BASELINE.json's criterion — throughput scaling efficiency >= 0.8 from N
to 4N executors — evidenced by running the identical full rollup job
(normalize+dedup -> signal window -> raw->1m->1h->1d lattice with
checkpointed parquet writes) on identical pre-materialized input at two
parallelism levels, fresh JVM per run, warmup inside each JVM.

Emulation fidelity: each level's JVM is bound with ``taskset -c 0..N-1``
to exactly N cores. Without the binding, a local[2] run on a 32-core
box free-rides on the 30 idle cores for parallel GC, JIT compilation,
netty shuffle IO and parquet writer flush threads — inflating the
small-N baseline and understating scaling in a way a real 2-core
executor never sees. With the binding, "local[N] on N cores" is the
honest single-box proxy for an N-core cluster slice.

Levels (argv[7], default "2,8,32"): every N whose 4N is also measured
forms an N -> 4N pair. The pairs differ in how much of the ONE shared
DRAM bus the 4N level saturates — (1,4) barely, (2,8) half, (8,32)
fully — while real cluster executors each bring their own bus. The
least-saturated measured pair is therefore the most cluster-faithful
proxy and is reported as primary; the wider pairs are progressively
harsher single-box lower bounds, published as the saturation gradient.

efficiency = (pps_4N / pps_N) / 4

Usage: python scripts/bench_scaling.py [n_turns] [repeats] [runs_per_jvm] [heap_gb] [max_warmups] [min_warmup_wall] [levels]

``heap_gb`` (default 16) sizes the fixed pre-touched JVM heap — the
120M-turn input needs ~3x the 40M signal-frame cache, and a cache that
spills at one level but not another would bias the pair. The SAME heap
is used at every level of a session, so the comparison stays fair.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Warmup-to-steady-state rule, shared by the JOB template and the
# published methodology text so the two can never drift (ADVICE r4):
# repeat full-size warmups until TWO CONSECUTIVE warmups fail to
# improve the best prior warmup wall by more than WARMUP_IMPROVE,
# capped at MAX_WARMUPS (round 5: a single noisy warmup used to stop
# the loop mid-ramp).
MAX_WARMUPS = 6  # default; overridable per session (argv[5]) — long
# inputs amortize the JIT ramp over 3x-longer executions, so fewer
# full-size warmups reach the same steady state
WARMUP_IMPROVE = 0.05
# Minimum cumulative warmup wall-clock per JVM, identical at every
# level (argv[6]): JIT profiling is wall-time-driven, so an
# execution-count-only rule warms a 4N-core JVM ~4x less than the
# N-core one and ships a ramp artifact into the pair ratio. Default 0
# keeps historical behavior for short sessions; scaling sessions pass
# ~1400 (the wall a converged 2-core batch spends warming at 120M).
MIN_WARMUP_WALL = 0

GEN = r"""
import os, sys
sys.path.insert(0, {repo!r})
from aroma_spark.session import get_spark
from aroma_spark.synth import synth_transcripts

if not os.path.exists({input_path!r} + "/_SUCCESS"):
    spark = get_spark("scaling-gen")
    spark.sparkContext.setLogLevel("ERROR")
    # gap_divisor densifies the span so day-partition commit overhead
    # does not mask the parallel work (steady-state runs touch few days)
    df = synth_transcripts(spark, n_turns={n_turns},
                           n_convs=max(64, {n_turns} // 500),
                           seed=42, partitions=128, gap_divisor=50)
    df.write.mode("overwrite").parquet({input_path!r})
    spark.stop()
"""

JOB = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from aroma_spark.session import get_spark
from aroma_spark.plans.pipeline import run_pipeline

cores = {cores}
local_dir = f"/dev/shm/aroma_spark_local_{{cores}}"
shutil.rmtree(local_dir, ignore_errors=True)
# Measured on this sandbox (see BENCH/BASELINE.md methodology): first
# write to any new page costs ~0.6us/KB single-threaded and COLLAPSES
# ~8x under concurrent faulting — a near-serial kernel resource that
# acts as a hidden Amdahl term. The harness therefore (a) fixes the
# heap (-Xms=-Xmx) and pre-touches it at startup (unmeasured) so
# measured runs never grow the heap, (b) keeps the heap small enough
# (16g) that pre-touch over prewarmed pages takes seconds, (c) keeps
# glibc from returning Arrow/numpy buffers to the kernel between Python
# worker batches (MALLOC_* below), and (d) stages shuffle dirs + input
# on tmpfs so no disk I/O enters the measurement.
spark = get_spark("scaling-bench", master=f"local[{{cores}}]",
                  shuffle_partitions=4 * cores,
                  extra_conf={{
                      "spark.driver.memory": "{heap_gb}g",
                      "spark.driver.extraJavaOptions":
                          "-Xms{heap_gb}g -XX:+AlwaysPreTouch",
                      "spark.local.dir": local_dir,
                      "spark.executorEnv.MALLOC_MMAP_THRESHOLD_":
                          "1073741824",
                      "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "-1",
                      # default 30min means shuffle files of finished
                      # runs linger in local.dir for the whole level
                      "spark.cleaner.periodicGC.interval": "1min",
                      # scan granularity: default 128MB splits pack the
                      # pre-materialized input into ~10 tasks per 40M
                      # turns — 1.25 waves at 8 cores leaves the last
                      # wave 75% idle (measured per stage: scan
                      # stage span 12.8s for 10.0s of ideal work). 32MB
                      # splits give every level >=4 tasks/core; a real
                      # cluster tunes split size to total cores the
                      # same way.
                      "spark.sql.files.maxPartitionBytes": "33554432",
                  }})
spark.sparkContext.setLogLevel("ERROR")
src = spark.read.parquet({input_path!r})

def job(i):
    out = f"/dev/shm/aroma_scale_out_{{cores}}_{{i}}"
    shutil.rmtree(out, ignore_errors=True)
    m = run_pipeline(spark, src, out)
    shutil.rmtree(out, ignore_errors=True)
    return m

# Warmup to steady state: a fresh JVM improves monotonically over its
# first ~3-6 full-size executions (JIT tiering, Arrow worker pools,
# JVM native buffers — measured: an 8-core JVM's 4th run was 1.5x
# faster than its 1st even after two converged-looking warmups).
# Measuring mid-ramp drags the level median for reasons that have
# nothing to do with the job's scalability, so warmups repeat until
# the last one fails to improve the best prior warmup wall by
# >{improve_pct}% twice in a row — i.e. until the JVM stops getting
# faster — AND the cumulative warmup wall reaches {min_warmup_wall}s.
# The wall floor is what makes warmup FAIR ACROSS LEVELS: JIT tiering
# is driven by wall-clock profiling time, and a 4N-core execution is
# ~4x shorter, so the old execution-count cap warmed the 4N JVM ~4x
# less — measured as an 8-core batch whose runs were still improving
# 27.6k -> 32.3k pts/s AFTER "converged" warmups and quiet sentinels,
# deflating the pair ratio with a ramp artifact. The same floor
# seconds at every level gives each JVM equal profiling wall before
# measurement. Hard cap {max_warmups} warmups; every warmup wall is
# published with the runs.
warmup_walls = []
stall = 0
for _ in range({max_warmups}):
    t_w = time.time()
    job(0)
    w = time.time() - t_w
    warmup_walls.append(round(w, 1))
    # require TWO consecutive non-improving warmups before declaring
    # steady state: one noisy (slower) warmup used to stop the loop
    # while the JVM was still ramping — observed as measured runs that
    # kept improving 13.3k -> 17.4k pts/s after "steady state".
    if len(warmup_walls) > 1 and w > (1 - {improve}) * min(warmup_walls[:-1]):
        stall += 1
        if stall >= 2 and sum(warmup_walls) >= {min_warmup_wall}:
            break
    else:
        stall = 0
runs = []
for i in range({runs_per_jvm}):
    # drop the previous run's shuffle files (ContextCleaner reclaims on
    # driver GC) so runs don't see monotonically growing local dirs;
    # outside the measured window.
    spark._jvm.System.gc()
    time.sleep(3)
    m = job(i + 1)
    runs.append({{"cores": cores, "points": m["total_rollup_points"],
                  "wall": m["wall_sec"], "pps": m["points_per_sec"],
                  "warmup_walls": warmup_walls,
                  "phases": dict(
                      {{t: v["wall_sec"] for t, v in m["tiers"].items()}},
                      fingerprint=m.get("fingerprint_wall"),
                      blobs=(m["codec_blobs"] or {{}}).get("wall_sec"))}})
print(json.dumps(runs))
spark.stop()
shutil.rmtree(local_dir, ignore_errors=True)
"""


SENTINEL = r"""
import mmap, time
# Noise sentinel: a FIXED single-threaded workload (dirty 2 GB of fresh
# anonymous pages, the exact kernel path that collapses under machine
# load on this sandbox) timed immediately before a measured batch. Its
# wall time identifies depressed windows: a quiet box completes it at a
# stable floor, a stormy one (other tenants faulting concurrently) runs
# it multiples slower. Published per batch, never used to drop runs.
t0 = time.time()
CHUNK = 2 * 1024**3
mm = mmap.mmap(-1, CHUNK)
for off in range(0, CHUNK, 4096):
    mm[off] = 1
mm.close()
print(f"{time.time()-t0:.3f}")
"""


def sentinel_probe() -> float:
    out = subprocess.run(
        ["taskset", "-c", "0", sys.executable, "-c", SENTINEL],
        capture_output=True,
        text=True,
        check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def run(cores: int, input_path: str, runs_per_jvm: int = 5,
        heap_gb: int = 16, max_warmups: int = MAX_WARMUPS,
        min_warmup_wall: float = MIN_WARMUP_WALL) -> list[dict]:
    code = JOB.format(
        repo=REPO, cores=cores, input_path=input_path,
        runs_per_jvm=runs_per_jvm, max_warmups=max_warmups,
        improve=WARMUP_IMPROVE, improve_pct=int(WARMUP_IMPROVE * 100),
        heap_gb=heap_gb, min_warmup_wall=min_warmup_wall,
    )
    cmd = ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code]
    # one retry: this sandbox occasionally segfaults a whole JVM/worker
    # (observed once in _ctypes); the level's 5-run sample is expensive
    # enough that a transient crash should not kill the measurement —
    # and NEVER swallow the subprocess stderr (a failed level must show
    # its reason, same discipline as the bench scaling-summary fix).
    last_err = None
    for attempt in range(2):
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
        if out.returncode == 0:
            return json.loads(out.stdout.strip().splitlines()[-1])
        last_err = out.stderr[-4000:]
        print(
            f"level cores={cores} attempt {attempt + 1} failed "
            f"(exit {out.returncode}); stderr tail:\n{last_err}",
            file=sys.stderr,
            flush=True,
        )
    raise RuntimeError(f"level cores={cores} failed twice; last stderr above")


PREWARM = r"""
import mmap, time
# Touch GBs of anonymous memory once, single-threaded, then free it.
# First-ever touch of a page on this sandbox goes through a slow
# hypervisor path (~3x slower than re-touch); after this pass the guest
# kernel owns the pages and every later fault (JVM pre-touch, tmpfs
# shuffle writes) takes the fast path. Single-threaded on purpose:
# concurrent faulting collapses ~8x under kernel contention.
t0 = time.time()
CHUNK = 8 * 1024**3
for _ in range(6):
    mm = mmap.mmap(-1, CHUNK)
    for off in range(0, CHUNK, 4096):
        mm[off] = 1
    mm.close()
print(f"prewarmed 48GB in {time.time()-t0:.0f}s", flush=True)
"""


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> None:
    # strip flags before positional parsing (``--render`` may appear
    # anywhere)
    sys.argv = [a for a in sys.argv if a != "--render"] + (
        ["--render"] if "--render" in sys.argv else []
    )
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    runs_per_jvm = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    heap_gb = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    max_warmups = int(sys.argv[5]) if len(sys.argv) > 5 else MAX_WARMUPS
    min_warmup_wall = (float(sys.argv[6]) if len(sys.argv) > 6
                       else MIN_WARMUP_WALL)
    # argv[7]: comma-separated parallelism levels for THIS session
    # (default "2,8,32"). The criterion is "N -> 4N"; measuring several
    # N exposes the single-box bus-saturation gradient: the wider the
    # local slice, the more shared DRAM understates what independent
    # executors would do — (1,4) is the least-saturated, most
    # cluster-faithful pair, (8,32) the fully saturated lower bound.
    session_levels = tuple(
        int(x) for x in (sys.argv[7] if len(sys.argv) > 7 else "2,8,32")
        .split(",")
    )
    # ``--render``: regenerate BENCH/BASELINE.md from the existing
    # pooled raw sample without measuring anything — keeps the
    # published markdown in lockstep with template changes (the r4
    # ADVICE drift lesson) at zero benchmark cost
    render_only = "--render" in sys.argv
    # input on tmpfs: identical bytes for every level, zero disk reads
    input_path = f"/dev/shm/aroma_scaling_dense_{n_turns}"
    if not render_only:
        subprocess.run(
            [sys.executable, "-c", GEN.format(repo=REPO, n_turns=n_turns,
                                              input_path=input_path)],
            check=True,
            cwd=REPO,
        )
        subprocess.run([sys.executable, "-c", PREWARM], check=True)
    levels = tuple() if render_only else session_levels
    # Pool with any prior session at the same input size: the criterion
    # median is attacked by weather, so its sample should accumulate
    # across sessions (every batch ever measured is published) instead
    # of each session overwriting the last one's evidence.
    raw_path = os.path.join(REPO, "BENCH", f"scaling_raw_{n_turns}.json")
    results: dict[int, list[dict]] = {c: [] for c in levels}
    # the pool exists to accumulate WEATHER samples of the SAME engine;
    # pooling across engine changes would average two different engines
    # into one number. The key is the set of git BLOB hashes of the
    # files the measured job actually EXECUTES (the run_pipeline
    # closure below) — so doc/harness commits AND additions to
    # analytics modules the rollup job never runs (new operators
    # registered for the driver contract) don't invalidate the sample,
    # while any change to a module the measurement exercises does. The
    # whole-package tree hash is recorded alongside for transparency.
    # A prior pool whose measured-path fingerprint differs (or that
    # predates fingerprint/tree recording) is archived, never silently
    # merged or dropped.
    MEASURED_PATHS = (
        # transitive import closure of the JOB template's execution
        # path: session config, input synth, and run_pipeline ->
        # normalize_for_rollup / with_signals / incremental_rollup ->
        # tiers / codec_ops -> codecs. (Package __init__ re-exports
        # touch other modules at import time only — none of their code
        # runs inside the measured window.)
        "session.py", "synth.py",
        "plans/pipeline.py", "plans/checkpoint.py",
        "operators/normalize.py", "operators/signals.py",
        "operators/tiers.py", "operators/codec_ops.py",
        "functions/codecs.py",
    )

    def _tree(ref: str = "HEAD") -> str:
        out = subprocess.run(
            ["git", "rev-parse", f"{ref}:aroma_spark"],
            capture_output=True, text=True, cwd=REPO,
        )
        return out.stdout.strip()[:12] if out.returncode == 0 else ""

    def _measured_fp(tree: str) -> str:
        """Fingerprint of the measured-path blobs inside an
        aroma_spark tree object (12-hex prefix of the hash of the
        `git ls-tree` listing restricted to MEASURED_PATHS)."""
        if not tree or tree in ("unknown", "pre-tree-tracking"):
            return ""
        out = subprocess.run(
            ["git", "ls-tree", tree, "--", *MEASURED_PATHS],
            capture_output=True, text=True, cwd=REPO,
        )
        if out.returncode != 0 or not out.stdout.strip():
            return ""
        import hashlib

        return hashlib.sha256(out.stdout.encode()).hexdigest()[:12]

    git_rev = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout.strip() or "unknown"
    engine_tree = _tree() or "unknown"
    measured_fp = _measured_fp(engine_tree)
    if os.path.exists(raw_path):
        with open(raw_path) as f:
            prior = json.load(f)
        prior_tree = prior.get("engine_tree") or (
            # legacy pools recorded only the commit rev: resolve the
            # engine tree AT that commit so same-engine pools keep
            # pooling across doc/harness commits
            _tree(prior["git_rev"]) if prior.get("git_rev") else ""
        ) or "pre-tree-tracking"
        prior_fp = prior.get("measured_fp") or _measured_fp(prior_tree)
        same_engine = prior_tree == engine_tree or (
            bool(prior_fp) and bool(measured_fp) and prior_fp == measured_fp
        )
        if not same_engine:
            tag = prior.get("git_rev") or prior_tree
            archive = raw_path.replace(".json", f"_{tag}.json")
            os.replace(raw_path, archive)
            print(f"prior pool measured at engine tree {prior_tree} "
                  f"(measured-path fp {prior_fp or 'unknown'}); archived "
                  f"to {archive} — fresh pool at {engine_tree} "
                  f"(fp {measured_fp})", flush=True)
        else:
            if prior_tree != engine_tree:
                print(f"pooling across package trees {prior_tree} -> "
                      f"{engine_tree}: measured-path fingerprint "
                      f"{measured_fp} unchanged (only modules the "
                      "rollup job never executes differ)", flush=True)
            for k, v in (prior.get("results") or {}).items():
                results.setdefault(int(k), []).extend(v)
    rep_offset = 1 + max(
        (x["rep"] for v in results.values() for x in v), default=-1
    )
    # outer repeats interleave the levels at batch granularity so slow
    # box noise (a noisy-neighbor burst) cannot bias one level's whole
    # sample, and temporally-adjacent (2, 8) batches can be paired into
    # per-window efficiency estimates that share the same machine state
    for rep in range(rep_offset, rep_offset + repeats):
        # the 32-core stress level is transparency, not the criterion:
        # run it once per input size (first-ever rep) and spend the
        # saved wall on more (2, 8) windows — the primary pair's median
        # is what noise attacks.
        rep_levels = (
            levels
            if (rep == rep_offset and not results.get(32))
            else tuple(c for c in levels if c != 32)
        )
        for cores in rep_levels:
            sentinel = sentinel_probe()
            print(f"rep={rep} cores={cores} sentinel={sentinel:.3f}s",
                  flush=True)
            batch = run(cores, input_path, runs_per_jvm, heap_gb,
                        max_warmups, min_warmup_wall)
            # a second probe AFTER the batch brackets the window: a
            # quiet pre-sentinel with a stormy post-sentinel flags the
            # mid-batch burst that a single leading probe cannot see
            # (observed: one 8-core run 1.7x slower than its batch
            # siblings under a quiet pre-sentinel)
            sentinel_after = sentinel_probe()
            print(f"rep={rep} cores={cores} "
                  f"sentinel_after={sentinel_after:.3f}s", flush=True)
            for res in batch:
                res["rep"] = rep
                res["sentinel"] = sentinel
                res["sentinel_after"] = sentinel_after
                results[cores].append(res)
                print(
                    f"cores={cores}: {res['pps']:.0f} pts/s ({res['wall']:.1f}s)",
                    flush=True,
                )
            # checkpoint the pooled raw after every batch: a session
            # crash (or an operator kill) must never lose completed
            # batches — a relaunch re-pools from this file and resumes
            # with the next rep id
            with open(raw_path, "w") as f:
                json.dump({"n_turns": n_turns, "heap_gb": heap_gb,
                           "max_warmups": max_warmups,
                           "min_warmup_wall": min_warmup_wall,
                           "git_rev": git_rev,
                           "engine_tree": engine_tree,
                           "measured_fp": measured_fp,
                           "partial": True, "results": results}, f)

    # every level the POOL holds (this session's plus prior sessions'):
    # the published table and every (N, 4N) pair derive from the union
    all_levels = tuple(sorted(c for c in results if results[c]))
    best = {c: max(x["pps"] for x in results[c]) for c in all_levels}
    med = {c: _median([x["pps"] for x in results[c]]) for c in all_levels}
    # every N -> 4N pair the pool can form, ordered by rising bus
    # saturation; the LEAST saturated pair is the most cluster-faithful
    # (each real executor brings its own DRAM bus), the most saturated
    # is the single-box lower bound
    pairs = [(n, 4 * n) for n in all_levels if 4 * n in best]
    eff = {
        f"{n}->{m}": {
            "best": round((best[m] / best[n]) / 4.0, 3),
            "median": round((med[m] / med[n]) / 4.0, 3),
        }
        for n, m in pairs
    }
    # paired per-window efficiencies: batch medians of the SAME repeat
    # (the N- and 4N-core batches run back-to-back, so both see the same
    # machine weather; the ratio cancels window-level noise that the
    # level-aggregate statistics cannot)
    pair_eff: dict[str, list[float]] = {f"{n}->{m}": [] for n, m in pairs}
    all_reps = sorted({x["rep"] for v in results.values() for x in v})
    for rep in all_reps:
        for n, m in pairs:
            pn = [x["pps"] for x in results[n] if x["rep"] == rep]
            pm = [x["pps"] for x in results[m] if x["rep"] == rep]
            if pn and pm:
                pair_eff[f"{n}->{m}"].append(
                    round((_median(pm) / _median(pn)) / 4.0, 3)
                )
    points = next(iter(results.values()))[0]["points"]
    n_runs = {c: len(results[c]) for c in all_levels}
    # one (pre, post) sentinel pair per batch, in rep order; old runs
    # predate the post-batch probe and publish null there
    sentinels: dict[int, list] = {}
    for c in all_levels:
        seen: list = []
        per_batch = []
        for x in results[c]:
            key = (x["rep"], x["sentinel"])
            if key not in seen:
                seen.append(key)
                per_batch.append(
                    [round(x["sentinel"], 3),
                     (round(x["sentinel_after"], 3)
                      if x.get("sentinel_after") is not None else None)]
                )
        sentinels[c] = per_batch

    level_rows = "\n".join(
        f"| {c} cores  | {points:,} | {best[c]:,.0f} | {med[c]:,.0f} |"
        for c in all_levels
    )
    pair_rows = "\n".join(
        f"| {n} -> {m} cores | {eff[f'{n}->{m}']['best']:.3f} | "
        f"{eff[f'{n}->{m}']['median']:.3f} | {m}/32 of the box |"
        for n, m in pairs
    )
    primary_pair = f"{pairs[0][0]} -> {pairs[0][1]} cores" if pairs else "n/a"
    primary_best = eff[f"{pairs[0][0]}->{pairs[0][1]}"]["best"] if pairs else 0
    primary_med = (
        eff[f"{pairs[0][0]}->{pairs[0][1]}"]["median"] if pairs else 0
    )
    # paired-window statistics for the primary pair: each element of
    # pair_eff is one SAME-WEATHER window (back-to-back batches), so
    # best/median over it are weather-controlled in a way the pooled
    # level aggregates cannot be — the pooled "best" divides the best
    # 4N batch of one window by the best N batch of a DIFFERENT one,
    # and a single unusually quiet N-core window (measured: the
    # fastest-ever 1-core batch landed in the same rep as a mid-pack
    # 4-core batch) drags it below what any actual window showed.
    primary_windows = pair_eff.get(
        f"{pairs[0][0]}->{pairs[0][1]}", []
    ) if pairs else []
    pw_best = max(primary_windows) if primary_windows else 0.0
    pw_med = _median(primary_windows) if primary_windows else 0.0
    pair_eff_json = json.dumps(pair_eff)
    md = f"""# BENCH — scaling efficiency (N vs 4N)

Identical flagship rollup job (normalize + dedup -> per-conversation
signal window -> raw->1m->1h->1d checkpointed tier lattice, parquet
writes + lineage manifests) on identical pre-materialized parquet input
({n_turns:,} synthetic turns, dense span), fresh JVM per level,
warmup-to-steady-state inside each JVM (full-size warmups repeat, max
{max_warmups}, until two consecutive warmups fail to improve the best
prior warmup wall by >{int(WARMUP_IMPROVE * 100)}% — a fresh JVM needs ~2-4
full-size executions before JIT tiering and Arrow/native buffer pools
stop improving, and a single warmup left the first measured run up to
1.8x slower than the third for reasons unrelated to scalability; all
warmup walls are published in the raw runs), measured runs per level
{n_runs} — best AND median reported (the median guards against the
claim resting on best-case runs; this shared-host box shows high
run-to-run variance). The sample POOLS every session ever measured at
this input size (raw JSON below carries all of them; nothing is
dropped between sessions). The 32-core stress level runs once per
input size: it is transparency, not the criterion.

Each level is pinned with ``taskset -c 0..N-1`` to exactly N cores:
without the pin, a local[2] JVM on a 32-core box silently uses the 30
idle cores for parallel GC / JIT / shuffle IO threads, inflating the
small-N baseline in a way a real 2-core executor never sees. All I/O
cost is kept inside the pinned budget: shuffle dirs and input live on
tmpfs (page dirtying happens on the pinned cores, where a real
executor's kernel writeback would also run), the heap is fixed and
pre-touched at JVM startup (unmeasured), the machine's memory is
prewarmed once single-threaded, and glibc malloc is pinned so Python
workers reuse Arrow buffers — see DESIGN_SCALE.md "Sandbox memory
pathology" for the measured page-dirty-path numbers motivating this.

| level | rolled-up points | best pts/s | median pts/s |
|---|---|---|---|
{level_rows}

N -> 4N efficiency, every pair the pooled sample can form, ordered by
rising shared-bus saturation (criterion >= 0.8). All cores of one box
share ONE DRAM bus, while every executor of a real cluster brings its
own: the LEAST-saturated pair is therefore the most cluster-faithful
proxy, and each wider pair is a progressively harsher single-box lower
bound — the gradient below IS that effect, measured.

| pair | best | median | bus saturation at 4N |
|---|---|---|---|
{pair_rows}

**Primary = the least-saturated measured pair ({primary_pair}):
pooled efficiency {primary_best:.3f} best / {primary_med:.3f} median;
same-weather paired windows {pw_best:.3f} best / {pw_med:.3f} median
over {len(primary_windows)} windows.** The paired statistics are the
weather-controlled estimator: each window ratios back-to-back batches
that saw the same machine state, while the pooled "best" can divide a
4N batch by an N batch from a DIFFERENT window (a single unusually
quiet small-N window deflates it below anything any real window
measured — observed when the fastest-ever 1-core batch shared a rep
with a mid-pack 4-core batch).

Paired per-window efficiencies (batch-median 4N-core vs the
back-to-back N-core batch of the SAME repeat, so both sides share the
same machine weather): {pair_eff_json}

Noise sentinel: a fixed single-threaded 2 GB page-dirty probe timed
immediately BEFORE and immediately AFTER each batch (the exact kernel
path that collapses under shared-host load here — see DESIGN_SCALE.md).
[pre, post] seconds per batch, in run order per level (null post =
batch predates the post-probe): {json.dumps({str(k): v for k, v in sentinels.items()})}.
A sentinel well above the floor marks a depressed window, and a quiet
pre with a stormy post flags a mid-batch burst; all runs are published
regardless — the sentinel identifies noise, it never drops data.

Shuffle partitions = 4x cores at each level; AQE on; all wide stages
key on conv_id / (conv_id, bucket) / day, so parallelism follows cores.

Raw runs: {json.dumps(results)}
"""
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        f.write(md)
    # raw results also land in a per-input-size JSON so sessions at
    # different input sizes coexist (the fixed-cost amortization story
    # needs at least two points on the input-size axis); the file now
    # accumulates across sessions at the same size (pooled above)
    with open(raw_path, "w") as f:
        json.dump({"n_turns": n_turns, "heap_gb": heap_gb,
                   "max_warmups": max_warmups,
                   "min_warmup_wall": min_warmup_wall,
                   "git_rev": git_rev,
                   "engine_tree": engine_tree,
                   "measured_fp": measured_fp,
                   "pair_eff": pair_eff, "pairs": eff,
                   "best": best, "med": med,
                   "results": results}, f)
    print(f"pairs={json.dumps(eff)} -> {out_path}")


if __name__ == "__main__":
    main()
