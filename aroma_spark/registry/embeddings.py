"""Vector search over the embeddings table: brute-force and LSH top-k,
IVF assignment and probing (random and trained codebooks), product
quantization and embedding profiles.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.operators.clusters import connected_components
from aroma_spark.operators.similarity import (
    _hyperplane,
    brute_force_topk,
    centroid_alignment,
    cluster_purity,
    dim_profile,
    ivf_assign,
    ivf_topk,
    lsh_ann_pairs,
    norm_profile,
    norm_quartiles_by_label,
    pq_assign,
    sparsity_by_label,
    train_codebook,
)
from aroma_spark.registry import FIXTURE_DIR, Query
from aroma_spark.sources.transcripts import load_table

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}

N_IVF_CENTROIDS = 16

# cosine threshold for semantic (embedding) near-dup clustering; shared
# by the Spark query and the generated DuckDB twin so the two engines
# filter the identical rounded-cosine pair set
EMB_DUP_TAU = 0.15


def _ensure_codebook_fixture(sf_dir: str) -> str:
    """Train the IVF codebook once per scale factor and persist it as a
    parquet fixture BOTH engines read — the round-3 verdict's fix for
    the `no_oracle` row: the k-means iteration has no SQL twin, but the
    probe does, so materialize the codebook and the assign/top-k oracle
    is the same SQL as ``ivf_topk`` over these centroids.

    Deterministic and engine-neutral: the training sample is the
    md5-hash-ordered head of the embeddings table (the same rule
    ``kmeans_codebook`` uses on the Spark side — test_similarity pins
    the two paths byte-equal), training is the shared numpy
    :func:`train_codebook`, and the write is tmp-then-rename so
    concurrent callers see either nothing or the whole file."""
    # oracle-side dependencies: importing the registry (as every
    # Spark-side caller does) must not load them
    import duckdb
    import pyarrow.parquet as pq

    name = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(FIXTURE_DIR, f"ivf_codebook_{name}.parquet")
    if not os.path.exists(path):
        os.makedirs(FIXTURE_DIR, exist_ok=True)
        rows = duckdb.sql(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            "ORDER BY md5('kmeans:' || CAST(vec_id AS VARCHAR)) LIMIT 8192"
        ).fetchall()
        X = np.array([r[0] for r in rows], dtype=np.float64)
        C = train_codebook(X, N_IVF_CENTROIDS)
        tbl = pa.table(
            {
                "centroid_id": pa.array(range(len(C)), pa.int32()),
                "cent_vec": pa.array(
                    [[float(v) for v in c] for c in C],
                    pa.list_(pa.float64()),
                ),
            }
        )
        # unique temp name per writer (pid): two concurrent processes
        # racing this fixture each publish a complete file via
        # os.replace instead of interleaving writes into one shared .tmp
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
    return path


# --- similarity search: embeddings ---
def ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


QUERIES["ann_topk"] = ann_topk

dot = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "t -> CAST(t[1] AS DOUBLE)*t[2]), 'sum')"
)


def _cos(a: str, b: str) -> str:
    return (
        f"{dot.format(a=a, b=b)} / "
        f"(sqrt({dot.format(a=a, b=a)}) * sqrt({dot.format(a=b, b=b)}))"
    )


ORACLE["ann_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_cos('q.qv', 'e.embedding')}, 6) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 5"""

QUERIES["emb_lsh_pairs"] = lambda spark, sf: lsh_ann_pairs(
    load_table(spark, sf, "embeddings"), n_planes=6, dim=64, min_cosine=0.15
)

planes = [_hyperplane(64, p) for p in range(6)]

plane_lits = [
    "[" + ", ".join(repr(v) for v in pl) + "]::DOUBLE[]" for pl in planes
]

sig_expr = " + ".join(
    f"(CASE WHEN {dot.format(a='embedding', b=plane_lits[p])} >= 0 "
    f"THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
    for p in range(6)
)

ORACLE["emb_lsh_pairs"] = f"""
WITH sigs AS (SELECT vec_id, embedding, ({sig_expr}) AS sig FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_cos('a.embedding', 'b.embedding')}, 6) AS cosine
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.15"""


# --- semantic near-dup clusters: the embedding analog of
# doc_dup_clusters — LSH cosine pairs at the dup threshold, then the
# same distributed min-label closure. Candidates only ever meet
# inside an LSH signature bucket; the closure runs on the pair set,
# never the corpus.
def emb_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    pairs = lsh_ann_pairs(
        load_table(spark, sf, "embeddings"),
        n_planes=6,
        dim=64,
        min_cosine=EMB_DUP_TAU,
    )
    return connected_components(
        pairs, "id_a", "id_b", id_out="vec_id", component_out="component"
    )


QUERIES["emb_dup_clusters"] = emb_dup_clusters
# semantic near-dup clusters: the emb_lsh_pairs pair set at the dup
# threshold, closed with the same recursive reachability the doc
# closure uses; component = min reachable id, engine-portable
ORACLE["emb_dup_clusters"] = f"""WITH RECURSIVE sigs AS (
  SELECT vec_id, embedding, ({sig_expr}) AS sig FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE round({_cos('a.embedding', 'b.embedding')}, 6) >= {EMB_DUP_TAU}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT re.node, e.dst AS r FROM reach re JOIN edges e ON re.r = e.src
),
comp AS (SELECT node, LEAST(node, min(r)) AS component FROM reach GROUP BY node)
SELECT CAST(node AS BIGINT) AS vec_id,
       CAST(component AS BIGINT) AS component
FROM comp"""


# IVF: the scale path for ANN — assign once, probe a few lists
def ivf_assign_q(spark: SparkSession, sf: str) -> DataFrame:
    return ivf_assign(load_table(spark, sf, "embeddings"), n_centroids=16)


QUERIES["ivf_assign"] = ivf_assign_q


def _ivf_assign_sql(cents_cte: str) -> str:
    return f"""
{cents_cte},
sc AS (SELECT e.vec_id, c.centroid_id,
              round({_cos('e.embedding', 'c.cv')}, 6) AS cent_cosine
       FROM embeddings e, c),
asg AS (SELECT vec_id, centroid_id, cent_cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cent_cosine DESC, centroid_id) AS rn
        FROM sc)
""".strip()


ivf_assign_sql = _ivf_assign_sql(
    "c AS (SELECT vec_id AS centroid_id, embedding AS cv "
    "FROM embeddings WHERE vec_id < 16)"
)

ORACLE["ivf_assign"] = f"""WITH {ivf_assign_sql}
SELECT vec_id, centroid_id, cent_cosine FROM asg WHERE rn = 1"""


def ivf_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10),
        k=5, n_centroids=16, n_probe=4,
    )


QUERIES["ivf_topk"] = ivf_topk_q


def _ivf_topk_sql(assign_sql: str) -> str:
    return f"""WITH {assign_sql},
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
qp AS (SELECT q.query_id, q.qv, c.centroid_id,
              ROW_NUMBER() OVER (PARTITION BY q.query_id
                                 ORDER BY round({_cos('q.qv', 'c.cv')}, 6) DESC, c.centroid_id) AS rn
       FROM q, c),
probed AS (SELECT query_id, qv, centroid_id FROM qp WHERE rn <= 4),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_cos('p.qv', 'e.embedding')}, 6) AS cosine
  FROM probed p
  JOIN asg a ON a.centroid_id = p.centroid_id AND a.rn = 1
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""


ORACLE["ivf_topk"] = _ivf_topk_sql(ivf_assign_sql)


# trained-codebook IVF: spherical k-means quantizer. The training
# loop has no SQL twin, so the codebook is materialized to a parquet
# fixture both engines read (_ensure_codebook_fixture) — the probe
# itself then oracle-checks exactly like ivf_topk. test_similarity
# pins the fixture byte-equal to the live kmeans_codebook() path.
def ivf_topk_trained_q(spark: SparkSession, sf: str) -> DataFrame:
    cb = spark.read.parquet(_ensure_codebook_fixture(sf))
    emb = load_table(spark, sf, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10),
        k=5, n_centroids=N_IVF_CENTROIDS, n_probe=4, centroids=cb,
    )


QUERIES["ivf_topk_trained"] = ivf_topk_trained_q


def ivf_topk_trained_oracle() -> str:
    # trained IVF: identical probe SQL, centroids read from the parquet
    # fixture both engines share. The driver gate runs at sf0.01 (the
    # default); scripts/validate_oracle.py points SPARK_GRAFT_ORACLE_SF
    # at whatever sf dir it is validating.
    cb_path = _ensure_codebook_fixture(
        os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    )
    return _ivf_topk_sql(
        _ivf_assign_sql(
            f"c AS (SELECT centroid_id, cent_vec AS cv "
            f"FROM read_parquet('{cb_path}'))"
        )
    )


def pq_assign_q(spark: SparkSession, sf: str) -> DataFrame:
    return pq_assign(load_table(spark, sf, "embeddings"), m=4, sub_dim=16, k=16)


QUERIES["pq_assign"] = pq_assign_q

# Product-quantization codes over 4x16-dim subspaces of the shared
# placeholder codebook, and label purity of the IVF cells.
pq_blocks = []

for _s in range(4):
    _lo, _hi = _s * 16 + 1, _s * 16 + 16
    _sv, _cv = f"e.embedding[{_lo}:{_hi}]", f"c.embedding[{_lo}:{_hi}]"
    pq_blocks.append(
        f"""SELECT e.vec_id, CAST({_s} AS BIGINT) AS subspace,
       c.vec_id AS code, round({_cos(_sv, _cv)}, 6) AS sub_cosine
FROM embeddings e, embeddings c WHERE c.vec_id < 16"""
    )
del _s, _lo, _hi, _sv, _cv

_pq_union = "\nUNION ALL\n".join(pq_blocks)

ORACLE["pq_assign"] = f"""WITH sc2 AS ({_pq_union}),
rk2 AS (SELECT vec_id, subspace, code, sub_cosine,
          row_number() OVER (PARTITION BY vec_id, subspace
            ORDER BY sub_cosine DESC, code) AS rn
        FROM sc2)
SELECT vec_id, subspace, code, sub_cosine FROM rk2 WHERE rn = 1"""


def cluster_purity_q(spark: SparkSession, sf: str) -> DataFrame:
    return cluster_purity(load_table(spark, sf, "embeddings"), n_centroids=16)


QUERIES["cluster_purity"] = cluster_purity_q
ORACLE["cluster_purity"] = f"""WITH {ivf_assign_sql},
a1 AS (SELECT vec_id, centroid_id FROM asg WHERE rn = 1),
jj AS (SELECT a1.centroid_id, CAST(e.label AS BIGINT) AS lbl
       FROM a1 JOIN embeddings e ON a1.vec_id = e.vec_id),
per AS (SELECT centroid_id, lbl, CAST(count(*) AS BIGINT) AS cnt
        FROM jj GROUP BY centroid_id, lbl),
rk3 AS (SELECT centroid_id, lbl, cnt,
          row_number() OVER (PARTITION BY centroid_id
            ORDER BY cnt DESC, lbl) AS rn2,
          CAST(sum(cnt) OVER (PARTITION BY centroid_id) AS BIGINT)
            AS n_vecs,
          CAST(count(*) OVER (PARTITION BY centroid_id) AS BIGINT)
            AS n_labels
        FROM per)
SELECT centroid_id, n_vecs, n_labels, lbl AS top_label,
       cnt AS top_count,
       round(CAST(cnt AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) AS purity
FROM rk3 WHERE rn2 = 1"""


def emb_norm_profile(spark: SparkSession, sf: str) -> DataFrame:
    return norm_profile(load_table(spark, sf, "embeddings"))


QUERIES["emb_norm_profile"] = emb_norm_profile
ORACLE["emb_norm_profile"] = """WITH pv AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(len(embedding) AS INTEGER) AS dim,
         CAST(list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
              * CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
         )) AS BIGINT) AS sq_fx
  FROM embeddings),
ag AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(max(dim) AS INTEGER) AS dim,
         CAST(sum(sq_fx) AS BIGINT) AS sum_sq_fx,
         CAST(min(sq_fx) AS BIGINT) AS min_sq_fx,
         CAST(max(sq_fx) AS BIGINT) AS max_sq_fx
       FROM pv GROUP BY label)
SELECT label, n_vecs, dim, sum_sq_fx, min_sq_fx, max_sq_fx,
       round(CAST(sum_sq_fx AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6)
         AS mean_sq_fx
FROM ag"""


def emb_dim_profile(spark: SparkSession, sf: str) -> DataFrame:
    return dim_profile(load_table(spark, sf, "embeddings"))


QUERIES["emb_dim_profile"] = emb_dim_profile
ORACLE["emb_dim_profile"] = """WITH ex AS (
  SELECT CAST(t.i AS INTEGER) AS dim,
         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 10000 + 0.5)
           AS BIGINT) AS fx
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
ag AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(fx) AS BIGINT) AS sum_fx,
         CAST(min(fx) AS BIGINT) AS min_fx,
         CAST(max(fx) AS BIGINT) AS max_fx
       FROM ex GROUP BY dim)
SELECT dim, n_vecs, sum_fx, min_fx, max_fx,
       round(CAST(sum_fx AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6)
         AS mean_fx
FROM ag"""


def emb_centroid_align(spark: SparkSession, sf: str) -> DataFrame:
    return centroid_alignment(load_table(spark, sf, "embeddings"))


QUERIES["emb_centroid_align"] = emb_centroid_align
ORACLE["emb_centroid_align"] = """WITH ex AS (
  SELECT CAST(label AS BIGINT) AS label, t.i AS pos,
         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 10000 + 0.5)
           AS BIGINT) AS fx
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
pd AS (SELECT label, pos, CAST(sum(fx) AS BIGINT) AS sum_fx
       FROM ex GROUP BY label, pos),
cnt AS (SELECT CAST(label AS BIGINT) AS label,
          CAST(count(*) AS BIGINT) AS n_vecs
        FROM embeddings GROUP BY 1),
dots AS (SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum(a.sum_fx * b.sum_fx) AS BIGINT) AS dot_fx2
         FROM pd a JOIN pd b
           ON a.pos = b.pos AND a.label < b.label
         GROUP BY a.label, b.label)
SELECT d.label_a, d.label_b, ca.n_vecs AS n_a, cb.n_vecs AS n_b,
       d.dot_fx2,
       round(CAST(d.dot_fx2 AS DOUBLE)
         / (CAST(ca.n_vecs AS DOUBLE) * CAST(cb.n_vecs AS DOUBLE)), 6)
         AS mean_align
FROM dots d
JOIN cnt ca ON d.label_a = ca.label
JOIN cnt cb ON d.label_b = cb.label"""


def emb_sparsity(spark: SparkSession, sf: str) -> DataFrame:
    return sparsity_by_label(load_table(spark, sf, "embeddings"))


QUERIES["emb_sparsity"] = emb_sparsity
ORACLE["emb_sparsity"] = """WITH pv AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(len(embedding) AS BIGINT) AS dim,
         CAST(list_sum(list_transform(embedding,
           x -> CASE WHEN CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5)
             AS BIGINT) = 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_zero
  FROM embeddings),
ag AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(dim) AS BIGINT) AS n_components,
         CAST(sum(n_zero) AS BIGINT) AS n_zero
       FROM pv GROUP BY label)
SELECT label, n_vecs, n_components, n_zero,
       round(CAST(n_zero AS DOUBLE) / CAST(n_components AS DOUBLE), 6)
         AS sparsity
FROM ag"""


def emb_norm_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    return norm_quartiles_by_label(load_table(spark, sf, "embeddings"))


QUERIES["emb_norm_quartiles"] = emb_norm_quartiles
ORACLE["emb_norm_quartiles"] = """WITH pv AS (
  SELECT CAST(label AS BIGINT) AS label, vec_id,
         CAST(list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
              * CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
         )) AS BIGINT) AS sq_fx
  FROM embeddings),
ranked AS (SELECT label, sq_fx,
             row_number() OVER (PARTITION BY label
               ORDER BY sq_fx, vec_id) AS rk,
             CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
               AS n_vecs
           FROM pv)
SELECT label, CAST(max(n_vecs) AS BIGINT) AS n_vecs,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_vecs * 25 / 100.0) AS BIGINT))
         THEN sq_fx END) AS BIGINT) AS p25_sq_fx,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_vecs * 50 / 100.0) AS BIGINT))
         THEN sq_fx END) AS BIGINT) AS p50_sq_fx,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_vecs * 75 / 100.0) AS BIGINT))
         THEN sq_fx END) AS BIGINT) AS p75_sq_fx
FROM ranked GROUP BY label"""


def oracle() -> dict[str, str]:
    return {**ORACLE, "ivf_topk_trained": ivf_topk_trained_oracle()}
