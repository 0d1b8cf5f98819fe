"""Driver-contract sanity: entry() runs, queries/oracles align."""

from __future__ import annotations

import hashlib
import json
import os
import warnings

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sha256 of json.dumps(oracle_sql(), sort_keys=True) with FIXTURE_DIR
# replaced by a placeholder, and of json.dumps(sorted(queries())). Oracle
# text is never edited: a change here is a contract change, not a refactor.
ORACLE_SQL_SHA256 = "49fe3e06c68c492d4537d0028c2aa0156f82b4ef6bad8bc919c4977078047ebc"
QUERY_KEYS_SHA256 = "664cee40aef195c85c41402e368e5e175f3f705d63e171cdf528fc0874701cae"

# The driver records only the first 50 registered queries: this window
# and its order are part of the contract.
FIRST_WINDOW = [
    "latency_hist_1h", "rolling_1h", "retention_1d", "session_stats",
    "media_features", "doc_exact_dedup", "doc_norm_dedup", "doc_minhash_bands",
    "doc_minhash_pairs", "signals_chunked", "rollup_1w", "rollup_1m_salted",
    "vocab_role", "vocab_role_bytoken", "top_roles", "encode_roles",
    "vocab_add", "vocab_sub", "prefix_filter", "membership_filter",
    "conv_count_by_role", "padded_export", "read_breakfast",
    "read_multithumos", "read_classlist", "sessionize", "doc_ngram_jaccard",
    "doc_simhash", "doc_simhash_pairs", "doc_text_stats", "doc_quality",
    "doc_langid", "doc_fingerprint", "doc_bpe_tokens", "ann_topk",
    "emb_lsh_pairs", "ivf_assign", "ivf_topk", "seasonal_profile",
    "streaming_rollup_parity", "doc_redact", "doc_domains", "burst_collapse",
    "trend_1d", "emb_dup_clusters", "dedup_editdist_pairs", "doc_tfidf",
    "bollinger_1h", "role_transitions", "lateness_1h",
]


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


def test_first_window_order():
    assert list(entrymod.queries())[:50] == FIRST_WINDOW


def test_sources_compile_with_warnings_as_errors():
    # an invalid escape such as '\s' in a non-raw string is a
    # DeprecationWarning today and a SyntaxError once warnings are errors
    failed = []
    for top, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__pycache__"))]
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(top, name)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            with warnings.catch_warnings():
                warnings.simplefilter("error")
                try:
                    compile(src, path, "exec")
                except SyntaxError as e:
                    failed.append(f"{os.path.relpath(path, REPO)}: {e}")
    assert not failed, failed
