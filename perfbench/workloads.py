"""The two workloads. Each times calls into the library's public
functions from outside and checks every result.

- ``Production``: the CLI rollup job as a user reruns it: the backfill
  over input B (A with ~1% of conversations edited on one mid-span day)
  on a warehouse built from input A, restored from an untimed snapshot
  of the warm-up's fresh build; then ``run_pipeline`` on a cold
  warehouse (the fresh build over input A). The traced run
  adds the curate job, ``curate_corpus`` on a fresh out dir.
- ``QueryMix``: one client calling the registry's queries in a seeded
  order over the generated tables; each result is collected to Arrow.

``job`` picks the calls whose summed wall is an iteration's ``job_s``;
``calls`` picks the calls behind ``query_p50_s``/``query_p90_s``/
``queries_per_s``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import inputs
from checks import (
    TIER_UNITS,
    curate_written,
    reference_blobs,
    reference_tiers,
    warehouse_blobs,
    warehouse_tiers,
)
from layers import QUERIES
from spans import Tracer

# input sizes: the engine's sf0.001 table shapes and a 30k-turn
# transcript: the calls are dominated by Spark's per-job overhead, and a
# run (JVM start, set-up, warm-up, timed iteration) takes about a minute
# on 4 CPUs
TABLES = {"n_events": 1_000, "n_users": 15, "n_docs": 500, "n_vecs": 500}
N_TURNS = 30_000
N_CONVS = 100
# query_mix's untimed warm-up runs this many queries at once, the
# slowest ones first so that the pool's tail is short
WARM_UP_THREADS = 4
WARM_UP_FIRST = ("ivf_topk_trained", "rfm_users", "doc_minhash_pairs", "gapfill_1h")
# the signal frame run_pipeline fingerprints and rolls up
SIGNAL_COLS = ("conv_id", "turn_idx", "ts", "inter_time_us", "text_len", "tool_call")


@dataclass
class Call:
    name: str
    wall: float
    points: int = 0
    got: object = None  # what the check reads; None if the call raised
    info: dict = field(default_factory=dict)


def storage_mb(spark) -> float:
    """Spark storage memory + disk held by persisted/checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _guarded(name: str, fn) -> Call:
    """Run one public call; an exception is a failed call, not a crash."""
    t0 = time.perf_counter()
    try:
        return fn()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return Call(name, time.perf_counter() - t0)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_noop(df, reps: int = 3) -> float:
    """Median wall of ``reps`` noop writes of ``df``."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _noop(df)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Workload:
    """``prepare`` is the repeated, timed set-up; ``warm_up`` makes the
    untimed first calls; ``references`` computes the expected results
    once (on its own DuckDB cursor, as it runs beside the warm-up);
    ``verify`` checks a call against them."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.tables = f"{ctx.work}/tables"
        self.codebook = None
        self.expected: dict[str, object] = {}

    def errors(self, call: Call) -> list[str]:
        """Digest checks: every key of the reference must match."""
        exp = self.expected[call.name]
        return [f"{k}: {call.got.get(k)} != reference {v}" for k, v in exp.items() if call.got.get(k) != v]

    def verify(self, call: Call) -> bool:
        if call.got is None:
            return False
        errs = self.errors(call)
        if errs:
            print(f"check failed: {call.name}: {'; '.join(errs)}", file=sys.stderr)
        return not errs

    def remove_codebook(self) -> None:
        if self.codebook and os.path.exists(self.codebook):
            os.remove(self.codebook)


class Production(Workload):
    name = "production"

    def prepare(self) -> None:
        spark, con, w = self.ctx.spark, self.ctx.con, self.ctx.work
        from aroma_spark.synth import synth_transcripts

        self.a = f"{w}/input_a"
        synth_transcripts(
            spark, n_turns=N_TURNS, n_convs=N_CONVS, seed=self.ctx.seed
        ).write.mode("overwrite").parquet(self.a)
        self.b = f"{w}/input_b.parquet"
        if os.path.exists(self.b):
            os.remove(self.b)
        self.edit = inputs.write_backfill_input(con, f"{self.a}/*.parquet", self.b, self.ctx.seed)
        self.wh = f"{w}/warehouse"
        self.snapshot = f"{w}/warehouse_snapshot"
        self.out = f"{w}/curated"

    def references(self) -> None:
        """DuckDB tier and blob digests of input A, tier digests of B."""
        a = f"{self.a}/*.parquet"
        print(f"backfill edit: {self.edit['convs']} conversation(s) on {self.edit['day']}")
        with self.ctx.con.cursor() as con:
            self.expected["run_pipeline_fresh"] = {**reference_tiers(con, a), "blobs": reference_blobs(con, a)}
            self.expected["rollup_backfill"] = reference_tiers(con, self.b)

    def traced_references(self) -> None:
        """The curate job's input (generated here, as only the traced
        run needs it) and the stage counts of ``curate_stats`` (the
        pure, no-write form of the curate chain) over it."""
        from aroma_spark.plans.curate import curate_stats

        shutil.rmtree(self.tables, ignore_errors=True)
        inputs.write_query_tables(self.tables, self.ctx.seed, **TABLES)
        self.docs = f"{self.ctx.work}/docs.parquet"
        inputs.write_docs_replica(self.tables, self.docs, self.ctx.seed)
        stats = curate_stats(self.ctx.spark.read.parquet(self.docs)).collect()
        self.expected["curate_corpus"] = {r["stage"]: int(r["n_rows"]) for r in stats}

    def traced_calls(self, tracer) -> list[Call]:
        """The curate job, run in the traced iteration only."""
        return [_guarded("curate_corpus", lambda: self._curate(tracer))]

    def _fresh(self, tracer) -> Call:
        from aroma_spark.plans.pipeline import run_pipeline
        from aroma_spark.sources.transcripts import load_transcripts

        shutil.rmtree(self.wh, ignore_errors=True)
        spark = self.ctx.spark
        with tracer.span("run_pipeline_fresh"):
            t0 = time.perf_counter()
            m = run_pipeline(spark, load_transcripts(spark, self.a), self.wh)
            wall = time.perf_counter() - t0
        got = {**warehouse_tiers(self.ctx.con, self.wh), "blobs": warehouse_blobs(self.ctx.con, self.wh)}
        m["files"], m["bytes"] = _tier_files(self.wh)
        return Call("run_pipeline_fresh", wall, m["total_rollup_points"], got, m)

    def _backfill(self, tracer) -> Call:
        """The rerun over input B: run_pipeline's lattice branch (its
        normalize -> signals frame, then ``incremental_rollup``, which
        fingerprints that frame as run_pipeline does). run_pipeline
        itself cannot be timed here: on a partial backfill it raises
        UnboundLocalError in incremental_rollup (``fingerprint_src`` is
        unset when precomputed fingerprints are passed), and its
        ``encode_blobs=False`` path fingerprints the raw rows instead,
        which dirties every day of a warehouse built with the codec on."""
        from aroma_spark.operators.normalize import normalize_for_rollup
        from aroma_spark.operators.signals import with_signals
        from aroma_spark.plans.checkpoint import incremental_rollup
        from aroma_spark.sources.transcripts import load_transcripts

        spark = self.ctx.spark
        with tracer.span("rollup_backfill"):
            t0 = time.perf_counter()
            sig = with_signals(normalize_for_rollup(load_transcripts(spark, self.b)))
            tiers = incremental_rollup(spark, sig.select(*SIGNAL_COLS), self.wh)
            wall = time.perf_counter() - t0
        got = warehouse_tiers(self.ctx.con, self.wh)
        points = sum(t["row_count"] for t in tiers.values())
        return Call("rollup_backfill", wall, points, got, {"tiers": tiers})

    def fresh(self, tracer) -> Call:
        return _guarded("run_pipeline_fresh", lambda: self._fresh(tracer))

    def backfill(self, tracer) -> Call:
        return _guarded("rollup_backfill", lambda: self._backfill(tracer))

    def _curate(self, tracer) -> Call:
        from aroma_spark.plans.curate import curate_corpus

        shutil.rmtree(self.out, ignore_errors=True)
        spark = self.ctx.spark
        with tracer.span("curate_corpus"):
            t0 = time.perf_counter()
            m = curate_corpus(spark, spark.read.parquet(self.docs), self.out)
            wall = time.perf_counter() - t0
        got = curate_written(self.ctx.con, self.out, m)
        return Call("curate_corpus", wall, m["input"]["rows"], got, m)

    def warm_up(self) -> list[Call]:
        """A fresh build, whose warehouse is kept as the snapshot every
        later backfill starts from, then one backfill."""
        calls = [self.fresh(Tracer())]
        shutil.rmtree(self.snapshot, ignore_errors=True)
        if os.path.isdir(self.wh):
            shutil.copytree(self.wh, self.snapshot)
        return calls + [self.backfill(Tracer())]

    def iteration(self, tracer) -> list[Call]:
        """A backfill over the warehouse restored from the snapshot (the
        copying is not timed), then a fresh build."""
        shutil.rmtree(self.wh, ignore_errors=True)
        if os.path.isdir(self.snapshot):
            shutil.copytree(self.snapshot, self.wh)
        return [self.backfill(tracer), self.fresh(tracer)]

    def job(self, calls: list[Call]) -> list[Call]:
        """The fresh build: its tier rows over its wall are the BASELINE
        headline (``points_per_s``)."""
        return [c for c in calls if c.name == "run_pipeline_fresh"]

    def calls(self, calls: list[Call]) -> list[Call]:
        """The backfill."""
        return [c for c in calls if c.name == "rollup_backfill"]

    def layers(self, calls: list[Call], tracer) -> dict[str, float]:
        """Layer numbers of a traced iteration: the manifests the calls
        returned, the files they wrote, and cumulative-prefix probes."""
        from aroma_spark.operators.codec_ops import encode_series
        from aroma_spark.operators.normalize import normalize_for_rollup
        from aroma_spark.operators.signals import with_signals
        from aroma_spark.operators.tiers import rollup_lattice
        from aroma_spark.sources.transcripts import load_transcripts

        backfill, fresh, curate = calls  # iteration + traced_calls
        out: dict[str, float] = {}
        m = fresh.info
        out["checkpoint.fingerprint_s"] = m["fingerprint_wall"]
        for tier in TIER_UNITS:
            out[f"checkpoint.tier_{tier}_s"] = m["tiers"][tier]["wall_sec"]
        out["codec_ops.compression_ratio"] = m["codec_blobs"]["compression_ratio"]
        b = backfill.info["tiers"]["1m"]
        out["checkpoint.changed_partitions"] = b["changed_partitions"]
        out["checkpoint.affected_convs"] = b.get("affected_convs", 0)
        for stage, sm in curate.info.items():
            out[f"curate.{stage}_s"] = sm["wall_sec"]
        out["checkpoint.files_written"] = m["files"]
        out["checkpoint.bytes_written"] = m["bytes"] / 1e6

        spark = self.ctx.spark
        with tracer.span("layer_probes"):
            scan = load_transcripts(spark, self.a)
            norm = normalize_for_rollup(scan)
            sig = with_signals(norm).select(*SIGNAL_COLS)
            t_scan = _timed_noop(scan)
            t_norm = _timed_noop(norm)
            t_sig = _timed_noop(sig)
            t_enc = _timed_noop(encode_series(sig, "inter_time_us", assume_clustered=True))
            tiers = rollup_lattice(sig, materialize=False)
            t_tiers = [_timed_noop(tiers[t]) for t in TIER_UNITS]
        out["sources.scan_s"] = t_scan
        out["normalize.self_s"] = t_norm - t_scan
        out["signals.self_s"] = t_sig - t_norm
        out["codec_ops.encode_s"] = t_enc - t_sig
        out.update(_tier_selfs(t_sig, t_tiers))
        return out


def _tier_files(root: str) -> tuple[int, int]:
    """Parquet files and bytes under the tier directories of ``root``."""
    n_files = n_bytes = 0
    for tier in TIER_UNITS:
        for d, _, files in os.walk(f"{root}/tier={tier}"):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(d, f))
    return n_files, n_bytes


def _tier_selfs(t_sig: float, t_tiers: list[float]) -> dict[str, float]:
    """Self time of each lattice edge from cumulative-prefix walls: the
    lazy chain for tier k recomputes signals and tiers below it."""
    t1m, t1h, t1d = t_tiers
    return {
        "tiers.rollup_1m_s": t1m - t_sig,
        "tiers.reaggregate_1h_s": t1h - t1m,
        "tiers.reaggregate_1d_s": t1d - t1h,
    }


class QueryMix(Workload):
    name = "query_mix"

    def prepare(self) -> None:
        import __spark_entry__ as entry

        shutil.rmtree(self.tables, ignore_errors=True)
        inputs.write_query_tables(self.tables, self.ctx.seed, **TABLES)
        # oracle_sql() trains the IVF codebook fixture from these tables
        self.codebook = os.path.join(
            entry.FIXTURE_DIR, f"ivf_codebook_{os.path.basename(self.tables)}.parquet"
        )
        self.remove_codebook()
        self.oracle = entry.oracle_sql()
        self.fns = entry.queries()
        self.order = random.Random(self.ctx.seed).sample(QUERIES, len(QUERIES))

    def references(self) -> None:
        """Each query's ``oracle_sql()`` twin run by DuckDB (the
        lattice: the ``rollup_1m/1h/1d`` twins), kept as pandas frames."""
        with self.ctx.con.cursor() as con:
            for t in ("events", "documents", "embeddings"):
                con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
                )
            for name in QUERIES:
                sqls = (
                    [self.oracle[f"rollup_{t}"] for t in TIER_UNITS]
                    if name == "rollup_lattice"
                    else [self.oracle[name]]
                )
                self.expected[name] = [con.execute(s).df() for s in sqls]

    def errors(self, call: Call) -> list[str]:
        """The repo's Spark-vs-DuckDB comparison, result by result."""
        from scripts.validate_oracle import compare

        exp = self.expected[call.name]
        if len(call.got) != len(exp):
            return [f"{len(call.got)} results, {len(exp)} references"]
        return [e for got, ref in zip(call.got, exp) for e in compare(call.name, got, ref)]

    def _results(self, name: str) -> list:
        spark = self.ctx.spark
        if name == "rollup_lattice":
            from aroma_spark.operators.tiers import rollup_lattice
            from aroma_spark.sources.transcripts import signals_from_events

            tiers = rollup_lattice(signals_from_events(spark, self.tables))
            return [tiers[t].toArrow() for t in TIER_UNITS]
        return [self.fns[name](spark, self.tables).toArrow()]

    def call(self, name: str, tracer) -> Call:
        def run() -> Call:
            before = storage_mb(self.ctx.spark)
            with tracer.span(name):
                t0 = time.perf_counter()
                tables = self._results(name)
                wall = time.perf_counter() - t0
            retained = storage_mb(self.ctx.spark) - before
            got = [t.to_pandas() for t in tables]
            return Call(name, wall, sum(t.num_rows for t in tables), got, {"retained_mb": retained})

        return _guarded(name, run)

    def iteration(self, tracer) -> list[Call]:
        return [self.call(n, tracer) for n in self.order]

    def warm_up(self) -> list[Call]:
        """The tables opened in the session (which starts its Python
        workers), then each query once, ``WARM_UP_THREADS`` at a time:
        the warm-up only has to leave the JIT, the codegen cache and the
        Python workers warm, and is neither timed nor traced."""
        spark = self.ctx.spark
        for t in ("events", "documents", "embeddings"):
            df = spark.read.parquet(f"{self.tables}/{t}.parquet")
            df.mapInArrow(lambda batches: batches, df.schema).toArrow()
        order = sorted(QUERIES, key=lambda n: n not in WARM_UP_FIRST)
        with ThreadPoolExecutor(WARM_UP_THREADS) as pool:
            return list(pool.map(lambda n: self.call(n, Tracer()), order))

    def traced_references(self) -> None:
        pass

    def traced_calls(self, tracer) -> list[Call]:
        return []

    def job(self, calls: list[Call]) -> list[Call]:
        """The whole pass; its points are the result rows collected."""
        return calls

    def calls(self, calls: list[Call]) -> list[Call]:
        return calls

    def layers(self, calls: list[Call], tracer) -> dict[str, float]:
        from aroma_spark.operators.tiers import rollup_lattice
        from aroma_spark.sources.transcripts import signals_from_events

        out: dict[str, float] = {}
        for c in calls:
            out[f"query.{c.name}_s"] = c.wall
            out[f"query.{c.name}.retained_mb"] = c.info.get("retained_mb", 0.0)
        with tracer.span("layer_probes"):
            sig = signals_from_events(self.ctx.spark, self.tables)
            t_sig = _timed_noop(sig)
            tiers = rollup_lattice(sig, materialize=False)
            t_tiers = [_timed_noop(tiers[t]) for t in TIER_UNITS]
        out.update(_tier_selfs(t_sig, t_tiers))
        return out


WORKLOADS = {w.name: w for w in (Production, QueryMix)}
