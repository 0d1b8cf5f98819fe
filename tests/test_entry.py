"""Driver-contract sanity: entry() runs, queries/oracles align."""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
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


def test_registry_loops_leave_no_globals():
    # a query body that used one of these names unbound would silently
    # read the loop's last value instead of raising NameError
    from aroma_spark.registry import documents, embeddings, statistics, timeseries

    leaked = {
        documents: ("lang", "_", "pat", "tok"),
        statistics: ("_r",),
        timeseries: ("_L", "_lvl"),
        embeddings: ("_s", "_lo", "_hi", "_sv", "_cv"),
    }
    found = [
        f"{mod.__name__}.{name}"
        for mod, names in leaked.items()
        for name in names
        if hasattr(mod, name)
    ]
    assert not found, found


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


# Library functions no non-test code calls but a test uses as the
# reference for another implementation (their helpers are kept too).
REFERENCE_IMPLS = {
    "encode_dod": "reference for the segmented and batched DoD codecs",
    "decode_dod": "reference for the segmented and batched DoD decoders",
    "normalize": "reference for normalize_for_rollup",
}


def _py_files(rel):
    for top, dirs, files in os.walk(os.path.join(REPO, rel)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        yield from (os.path.join(top, f) for f in files if f.endswith(".py"))


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _names(node, strings=False):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(re.findall(r"[A-Za-z_]\w*", n.value))
    return out


def test_library_functions_have_callers():
    """Every top-level function in aroma_spark/ is reached from non-test
    code: module-level library code (query registration, CLI), the
    `__spark_entry__` module, the benchmarks and scripts/ (whose string templates
    run as code). A function reached only from unreached functions is
    unreached too. Package re-export files are not callers, so none but
    registry/ imports anything."""
    defs, live = {}, set(REFERENCE_IMPLS)
    inits_with_imports = []
    for path in _py_files("aroma_spark"):
        tree = _parse(path)
        if os.path.basename(path) == "__init__.py":
            if os.path.basename(os.path.dirname(path)) != "registry" and any(
                isinstance(n, (ast.Import, ast.ImportFrom)) for n in ast.walk(tree)
            ):
                inits_with_imports.append(os.path.relpath(path, REPO))
            continue
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(st.name, []).append(
                    (os.path.relpath(path, REPO), _names(st))
                )
            else:
                live |= _names(st)
    roots = [os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    for path in roots + list(_py_files("perfbench")):
        live |= _names(_parse(path))
    for path in _py_files("scripts"):
        live |= _names(_parse(path), strings=True)
    reached = set()
    while new := {n for n in defs if n in live} - reached:
        reached |= new
        for n in new:
            for _, body in defs[n]:
                live |= body
    unreached = sorted(
        f"{path}:{name}" for name in set(defs) - reached for path, _ in defs[name]
    )
    assert not unreached, unreached
    assert not inits_with_imports, inits_with_imports
