"""Seeded benchmark inputs, generated in set-up and never downloaded.

- ``write_query_tables``: ``events``/``documents``/``embeddings`` parquet
  with the schemas and value distributions of the engine's sf tables:
  events of uniform users over 30 days with JSON ``props``; documents of
  10-100 words from a 31-word vocabulary, every 20th a near duplicate
  (an earlier document plus ``dup``) and a few exact duplicates; unit
  64-d vectors with 10 labels. The sizes are arguments; every seed gives
  another table of the same shape and size.
- ``write_docs_replica``: the curate job's input, the generated
  ``documents`` with each document's words reshuffled under the seed.
- ``write_backfill_input``: a transcript table with ~1% of conversations
  edited on the middle day of its span.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

DIM = 64
SPAN_US = 30 * 86_400 * 1_000_000
START_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = START_US + np.sort(rng.integers(0, SPAN_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist(),
                pa.string(),
            ),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([json.dumps({"k": int(v)}) for v in k], pa.string()),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11 and i > 20:
            # near duplicate: an earlier document plus one marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i % 125 == 7 and i > 20:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                np.array(LANGS)[rng.choice(5, n, p=LANG_P)].tolist(),
                pa.string(),
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(x.tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_query_tables(
    out_dir: str, seed: int, n_events: int, n_users: int, n_docs: int, n_vecs: int
) -> None:
    """The three registry tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    ev, dc, em = (np.random.default_rng(c) for c in np.random.SeedSequence([seed, 0x51]).spawn(3))
    pq.write_table(_events(ev, n_events, n_users), f"{out_dir}/events.parquet")
    pq.write_table(_documents(dc, n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(_embeddings(em, n_vecs), f"{out_dir}/embeddings.parquet")


def write_docs_replica(src_dir: str, out_path: str, seed: int) -> None:
    """``documents`` with each text's words reshuffled under ``seed``
    (the word-reshuffled replica recipe): same length and vocabulary,
    so dedup and LSH see fresh texts, and exact duplicates stay exact."""
    tbl = pq.read_table(f"{src_dir}/documents.parquet", columns=["doc_id", "text"])
    rng = np.random.default_rng([seed, 0xC0])
    shuffled: dict[str, str] = {}
    out = []
    for t in tbl.column("text").to_pylist():
        if t not in shuffled:
            w = t.split()
            shuffled[t] = " ".join(w[i] for i in rng.permutation(len(w)))
        out.append(shuffled[t])
    pq.write_table(
        pa.table({"doc_id": tbl.column("doc_id"), "text": pa.array(out, pa.string())}),
        out_path,
    )


def write_backfill_input(con, src: str, out_path: str, seed: int, share: float = 0.01) -> dict:
    """Input B of the backfill: ``src`` with the turns of ~``share`` of
    all conversations edited on the middle day of the span (their text
    grows, so text-length sums and the day's fingerprints change).
    Returns the edited day and conversation count."""
    n_convs, lo, hi = con.execute(
        f"SELECT count(DISTINCT conv_id), min(ts::TIMESTAMP)::DATE, max(ts::TIMESTAMP)::DATE "
        f"FROM read_parquet('{src}')"
    ).fetchone()
    day = lo + (hi - lo) // 2
    k = max(1, round(share * n_convs))
    edited = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT conv_id FROM read_parquet('{src}') "
            f"WHERE ts::TIMESTAMP::DATE = DATE '{day}' "
            f"ORDER BY hash(conv_id, {int(seed)}) LIMIT {k}"
        ).fetchall()
    ]
    quoted = ", ".join(f"'{c}'" for c in edited)
    con.execute(
        f"""COPY (
  SELECT conv_id, turn_idx, role,
         CASE WHEN conv_id IN ({quoted}) AND ts::TIMESTAMP::DATE = DATE '{day}'
              THEN text || ' edited' ELSE text END AS text,
         tool, ts::TIMESTAMP AS ts
  FROM read_parquet('{src}')) TO '{out_path}' (FORMAT PARQUET)"""
    )
    return {"day": str(day), "convs": len(edited)}
