"""Self-test of the benchmark's correctness gates. Run from the
repository root (about a minute):

    python3 perfbench/selftest.py

It shows that each gate passes a correct result and catches a wrong one:

- a rollup tier with one corrupted row no longer matches the DuckDB
  reference digest;
- a codec blob holding one wrong value no longer matches the reference
  series;
- a query result with one wrong value or one missing row no longer
  matches its ``oracle_sql()`` twin, while the same result reordered
  still does.

Exits 0 when every expectation holds, 1 otherwise.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
from checks import (  # noqa: E402
    connect,
    reference_blobs,
    reference_tiers,
    warehouse_blobs,
    warehouse_tiers,
)

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        FAILURES.append(what)


def check_tier_gate(ctx) -> None:
    from aroma_spark.plans.pipeline import run_pipeline
    from aroma_spark.sources.transcripts import load_transcripts
    from aroma_spark.synth import synth_transcripts

    spark, con, w = ctx.spark, ctx.con, ctx.work
    src = f"{w}/input"
    synth_transcripts(spark, n_turns=3_000, n_convs=20, seed=5).write.parquet(src)
    ref = reference_tiers(con, f"{src}/*.parquet")
    ref_blobs = reference_blobs(con, f"{src}/*.parquet")
    run_pipeline(spark, load_transcripts(spark, src), f"{w}/wh")
    expect(warehouse_tiers(con, f"{w}/wh") == ref, "tier gate passes the job's own output")
    expect(warehouse_blobs(con, f"{w}/wh") == ref_blobs, "blob gate passes the job's own blobs")

    path = sorted(glob.glob(f"{w}/wh/tier=1h/*/*.parquet"))[0]
    tbl = pq.read_table(path)
    idx = tbl.schema.get_field_index("n_points")
    field = tbl.schema.field(idx)
    n_points = tbl.column(idx).to_pylist()
    n_points[0] += 1
    pq.write_table(tbl.set_column(idx, field, pa.array(n_points, field.type)), path)
    got = warehouse_tiers(con, f"{w}/wh")
    expect(got["1h"] != ref["1h"], "tier gate catches one corrupted 1h row")
    expect(got["1m"] == ref["1m"] and got["1d"] == ref["1d"], "  ...and only in that tier")

    from aroma_spark.functions.codecs import decode_gorilla, encode_gorilla

    path = sorted(glob.glob(f"{w}/wh/blobs/*.parquet"))[0]
    tbl = pq.read_table(path)
    idx = tbl.schema.get_field_index("val_blob")
    blobs = tbl.column(idx).to_pylist()
    values = decode_gorilla(blobs[0])
    values[-1] += 1.0
    blobs[0] = encode_gorilla(values)
    pq.write_table(tbl.set_column(idx, tbl.schema.field(idx), pa.array(blobs, pa.binary())), path)
    expect(warehouse_blobs(con, f"{w}/wh") != ref_blobs, "blob gate catches one wrong encoded value")


def check_query_gate(ctx) -> None:
    import __spark_entry__ as entry
    from scripts.validate_oracle import compare

    tables = f"{ctx.work}/tables"
    inputs.write_query_tables(tables, 5, n_events=1_000, n_users=15, n_docs=50, n_vecs=50)
    con = ctx.con
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tables}/events.parquet')")
    oracle = con.execute(entry.oracle_sql()["ohlc_1h"]).df()
    result = entry.queries()["ohlc_1h"](ctx.spark, tables).toArrow().to_pandas()
    expect(not compare("ohlc_1h", result, oracle), "query gate passes ohlc_1h against its oracle twin")
    shuffled = result.sample(frac=1.0, random_state=0)[list(reversed(result.columns))]
    expect(not compare("ohlc_1h", shuffled, oracle), "  ...in any row and column order")
    wrong = result.copy()
    wrong.loc[wrong.index[0], "high"] += 1
    expect(bool(compare("ohlc_1h", wrong, oracle)), "query gate catches one wrong value")
    expect(bool(compare("ohlc_1h", result.iloc[1:], oracle)), "query gate catches one missing row")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    run.prepare_env(work)
    ctx = run.Ctx(5, work)
    codebook = None
    try:
        import __spark_entry__ as entry

        # oracle_sql() trains this fixture from the generated tables
        codebook = os.path.join(entry.FIXTURE_DIR, "ivf_codebook_tables.parquet")
        if os.path.exists(codebook):
            os.remove(codebook)
        ctx.con = connect(f"{work}/duck")
        ctx.open_spark()
        check_tier_gate(ctx)
        check_query_gate(ctx)
    finally:
        ctx.stop_spark()
        run.stop_gateway()
        if ctx.con is not None:
            ctx.con.close()
        if codebook and os.path.exists(codebook):
            os.remove(codebook)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
