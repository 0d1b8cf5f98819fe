"""Driver-contract sanity: entry() runs, queries/oracles align."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entrymod

# sha256 of json.dumps(oracle_sql(), sort_keys=True) with FIXTURE_DIR
# replaced by a placeholder, and of json.dumps(sorted(queries())). Oracle
# text is never edited: a change here is a contract change, not a refactor.
ORACLE_SQL_SHA256 = "49fe3e06c68c492d4537d0028c2aa0156f82b4ef6bad8bc919c4977078047ebc"
QUERY_KEYS_SHA256 = "664cee40aef195c85c41402e368e5e175f3f705d63e171cdf528fc0874701cae"


def test_queries_and_oracles_align():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 10


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    cols = set(df.columns)
    assert {"conv_id", "bucket_ts", "n_points"} <= cols


def test_oracle_and_query_key_digests(monkeypatch):
    # the trained-IVF oracle embeds the codebook path of its sf dir:
    # hash it at the default scale factor
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF", raising=False)
    oracle = json.dumps(entrymod.oracle_sql(), sort_keys=True)
    oracle = oracle.replace(entrymod.FIXTURE_DIR, "<FIXTURE_DIR>")
    keys = json.dumps(sorted(entrymod.queries()))
    assert hashlib.sha256(oracle.encode()).hexdigest() == ORACLE_SQL_SHA256
    assert hashlib.sha256(keys.encode()).hexdigest() == QUERY_KEYS_SHA256
