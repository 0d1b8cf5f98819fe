"""Phase-level scaling diagnosis: wall vs process-tree CPU at N cores.

For each pipeline phase, prints wall seconds and the CPU seconds burned
by the whole JVM process tree (JVM + forked Python workers) during that
phase. Interpreting a 2-core vs 8-core pair:

- cpu(8) ~= cpu(2) and wall(8) ~= wall(2)/4  -> phase scales.
- cpu(8)  > cpu(2)                           -> contention (memory
  bandwidth / page-fault collapse): the same work costs more CPU when
  run wider. Fix = less memory traffic, not more parallelism.
- cpu(8) ~= cpu(2) but wall(8) >> cpu(8)/8   -> idle cores: serial
  stages, limit-ramps, driver-side gaps, commit barriers.

Usage: taskset is applied internally; run plain:
    python scripts/diag_scaling.py [n_turns] [cores ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from aroma_spark.session import get_spark

def tree_cpu(root_pid):
    # utime+stime+cutime+cstime of root_pid and every live descendant,
    # in seconds. cutime/cstime matter: Spark reaps idle Python workers
    # between phases, and a dead worker's CPU survives only in its
    # parent's cutime/cstime — without them the tree sum goes DOWN when
    # workers exit (observed as negative per-phase deltas). Live
    # children are not yet folded into the parent, so summing both
    # never double-counts.
    ticks = os.sysconf("SC_CLK_TCK")
    children = {{}}
    own = {{}}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{{d}}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])
            cpu = (int(parts[11]) + int(parts[12])
                   + int(parts[13]) + int(parts[14]))
        except (OSError, IndexError, ValueError):
            continue
        pid = int(d)
        own[pid] = cpu
        children.setdefault(ppid, []).append(pid)
    total = own.get(root_pid, 0)
    stack = [root_pid]
    seen = set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        for cpid in children.get(pid, []):
            total += own[cpid]
            stack.append(cpid)
    return total / ticks

cores = {cores}
local_dir = f"/dev/shm/aroma_diag_local_{{cores}}"
shutil.rmtree(local_dir, ignore_errors=True)
spark = get_spark("diag-scaling", master=f"local[{{cores}}]",
                  shuffle_partitions=4 * cores,
                  extra_conf={{
                      "spark.driver.memory": "16g",
                      "spark.driver.extraJavaOptions":
                          "-Xms16g -XX:+AlwaysPreTouch",
                      "spark.local.dir": local_dir,
                      "spark.executorEnv.MALLOC_MMAP_THRESHOLD_":
                          "1073741824",
                      "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "-1",
                  }})
spark.sparkContext.setLogLevel("ERROR")
gw = spark.sparkContext._gateway
jvm_pid = int(getattr(gw, "proc", None).pid if getattr(gw, "proc", None)
              else gw.java_process.pid)

from pyspark.sql import functions as F
from aroma_spark.operators.normalize import normalize_for_rollup
from aroma_spark.operators.signals import with_signals
from aroma_spark.operators.codec_ops import encode_series
from aroma_spark.plans.checkpoint import (
    incremental_rollup, partition_fingerprints,
)

src = spark.read.parquet({input_path!r})

def run_once(tag):
    out = f"/dev/shm/aroma_diag_out_{{cores}}"
    shutil.rmtree(out, ignore_errors=True)
    phases = []
    def mark(name, t0, c0):
        t1, c1 = time.time(), tree_cpu(jvm_pid)
        phases.append((name, round(t1 - t0, 2), round(c1 - c0, 2)))
        return t1, c1

    t0, c0 = time.time(), tree_cpu(jvm_pid)
    sig = with_signals(normalize_for_rollup(src, dedup=True)).select(
        "conv_id", "turn_idx", "ts", "inter_time_us", "text_len",
        "tool_call")
    sig = sig.persist()
    # fused shape (pipeline.py): ONE job materializes the cache AND
    # computes fingerprints AND the codec monotonicity probe. Blobs run
    # serially here (not in the concurrent DAG branch) so each phase's
    # CPU is attributable.
    fp, mn = partition_fingerprints(sig, min_col="inter_time_us")
    t0, c0 = mark("cache_mat+fp", t0, c0)
    timings = {{}}
    metrics = incremental_rollup(spark, sig, out, timings=timings,
                                 fingerprints=fp)
    t0, c0 = mark("tiers(all)", t0, c0)
    blobs = encode_series(sig, "inter_time_us",
                          assume_clustered=(mn is not None and mn >= 0))
    blobs.write.mode("overwrite").parquet(f"{{out}}/blobs")
    t0, c0 = mark("blobs", t0, c0)
    sig.unpersist(blocking=True)
    shutil.rmtree(out, ignore_errors=True)
    # the three tiers share one write job: every tier reports its wall
    print(json.dumps({{"tag": tag, "cores": cores, "phases": phases,
                      "lattice_wall": metrics["1m"]["wall_sec"],
                      "fp_wall_inside": timings.get("fingerprint_wall")}}),
          flush=True)

run_once("warmup")
run_once("run1")
run_once("run2")
spark.stop()
shutil.rmtree(local_dir, ignore_errors=True)
"""

GEN = r"""
import os, sys
sys.path.insert(0, {repo!r})
from aroma_spark.session import get_spark
from aroma_spark.synth import synth_transcripts
if not os.path.exists({input_path!r} + "/_SUCCESS"):
    spark = get_spark("diag-gen")
    spark.sparkContext.setLogLevel("ERROR")
    df = synth_transcripts(spark, n_turns={n_turns},
                           n_convs=max(64, {n_turns} // 500),
                           seed=42, partitions=128, gap_divisor=50)
    df.write.mode("overwrite").parquet({input_path!r})
    spark.stop()
"""


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cores_list = [int(c) for c in sys.argv[2:]] or [2, 8]
    input_path = f"/dev/shm/aroma_scaling_dense_{n_turns}"
    subprocess.run(
        [sys.executable, "-c", GEN.format(repo=REPO, n_turns=n_turns,
                                          input_path=input_path)],
        check=True, cwd=REPO,
    )
    for cores in cores_list:
        code = JOB.format(repo=REPO, cores=cores, input_path=input_path)
        cmd = ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
        if out.returncode != 0:
            print(out.stderr[-4000:], file=sys.stderr)
            raise SystemExit(1)
        for line in out.stdout.strip().splitlines():
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            print(f"--- cores={d['cores']} {d['tag']}")
            for name, wall, cpu in d["phases"]:
                util = cpu / wall / d["cores"] if wall else 0
                print(f"  {name:20s} wall={wall:8.2f}s cpu={cpu:8.2f}s "
                      f"util={util:5.1%}")
            print(f"  lattice={d['lattice_wall']} "
                  f"fp_inside={d['fp_wall_inside']}")


if __name__ == "__main__":
    main()
