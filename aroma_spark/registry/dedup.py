"""Document near-duplicate detection: exact and normalized dedup,
n-gram Jaccard, MinHash/SimHash LSH, containment and the dedup
closure (connected components and survivors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.functions.text import quality_score
from aroma_spark.operators.clusters import (
    cluster_size_histogram,
    connected_components,
    dedup_survivors,
)
from aroma_spark.operators.dedup import (
    containment_pairs,
    dedup_savings_by_source,
    dup_rate_by_length,
    editdist_verified_pairs,
    exact_text_dedup,
    lsh_candidate_quality,
    minhash_band_keys,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    normalized_text_dedup,
    simhash,
    simhash_near_pairs,
)
from aroma_spark.registry import Query
from aroma_spark.sources.transcripts import load_table

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


# --- training-data ops: documents (task brief: dedup + text analysis) ---
# Same non-vacuity treatment: the sf0.001/sf0.01 corpora contain zero
# duplicate texts, so re-inject every 13th document under a shifted id
# — the group-by provably collapses copies (n_copies=2 survivors keep
# the original min id).
def doc_exact_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    dup = d.where(F.col("doc_id") % 13 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return exact_text_dedup(d.unionByName(dup))


QUERIES["doc_exact_dedup"] = doc_exact_dedup_q
# ---- documents / embeddings (training-data ops) ----
ORACLE["doc_exact_dedup"] = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0
)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(COALESCE(text,'')) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_copies
FROM u GROUP BY md5(COALESCE(text,''))"""


# whitespace/case-normalized exact dedup: catches re-wrapped copies;
# a re-cased + re-spaced slice is injected so normalization provably
# collapses rows raw-byte dedup would keep
def doc_norm_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    dup = d.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.coalesce(F.col("text"), F.lit("")))).alias("text"),
        *[c for c in d.columns if c not in ("doc_id", "text")],
    ).select(*d.columns)
    return normalized_text_dedup(d.unionByName(dup))


QUERIES["doc_norm_dedup"] = doc_norm_dedup_q
ORACLE["doc_norm_dedup"] = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, upper('  ' || COALESCE(text, '')) AS text
  FROM documents WHERE doc_id % 17 = 0
)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
       md5(trim(regexp_replace(lower(COALESCE(text,'')), '\\s+', ' ', 'g'))) AS norm_hash,
       CAST(count(*) AS BIGINT) AS n_copies
FROM u GROUP BY md5(trim(regexp_replace(lower(COALESCE(text,'')), '\\s+', ' ', 'g')))"""

QUERIES["doc_ngram_jaccard"] = lambda spark, sf: ngram_jaccard_pairs(
    load_table(spark, sf, "documents"), threshold=0.2
)

# word 3-gram shingles, distinct per doc (1-based list indexing)
shingle_sql = """
w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
       FROM w, UNNEST(range(1, len(ws)-1)) AS t(i) WHERE len(ws) >= 3)
""".strip()

ORACLE["doc_ngram_jaccard"] = f"""WITH {shingle_sql},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2"""

QUERIES["doc_minhash_bands"] = lambda spark, sf: minhash_band_keys(
    load_table(spark, sf, "documents")
)

minhash_sql = f"""{shingle_sql},
mh AS (SELECT doc_id, i AS hash_idx, min(md5(i || ':' || shingle)) AS minhash
       FROM sh, UNNEST(range(0, 12)) AS t(i) GROUP BY doc_id, i),
bands AS (SELECT doc_id, CAST(hash_idx // 4 AS INT) AS band,
                 md5(string_agg(minhash, '|' ORDER BY hash_idx)) AS band_key
          FROM mh GROUP BY doc_id, hash_idx // 4)"""

ORACLE["doc_minhash_bands"] = f"WITH {minhash_sql}\nSELECT doc_id, band, band_key FROM bands"

QUERIES["doc_minhash_pairs"] = lambda spark, sf: minhash_lsh_pairs(
    load_table(spark, sf, "documents")
)
ORACLE["doc_minhash_pairs"] = f"""WITH {minhash_sql}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id"""

QUERIES["doc_simhash"] = lambda spark, sf: simhash(load_table(spark, sf, "documents"))

simhash_sql = """
tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM documents),
tok2 AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS h FROM tok WHERE w <> ''),
votes AS (SELECT doc_id, i AS b, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM tok2, UNNEST(range(0, 32)) AS t(i) GROUP BY doc_id, i),
simh AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id)
""".strip()

ORACLE["doc_simhash"] = f"WITH {simhash_sql}\nSELECT doc_id, simhash FROM simh"

# byte-banding guarantees full recall only for hamming <= 3 (4 bands,
# 3 flips leave >= 1 byte intact) — keep the query at the sound bound
QUERIES["doc_simhash_pairs"] = lambda spark, sf: simhash_near_pairs(
    load_table(spark, sf, "documents"), max_hamming=3
)
ORACLE["doc_simhash_pairs"] = f"""WITH {simhash_sql},
bands AS (SELECT doc_id, simhash, i AS byte_idx, (simhash >> (i*8)) & 255 AS byte_val
          FROM simh, UNNEST(range(0, 4)) AS t(i)),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sim_a, b.simhash AS sim_b
          FROM bands a JOIN bands b ON a.byte_idx = b.byte_idx AND a.byte_val = b.byte_val
          WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 3"""


# LSH candidates + exact Levenshtein verify: the two-stage near-dup
# pipeline (propose cheap, verify exact, quadratic cost confined to
# the LSH-bounded pair set).
def dedup_editdist_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return editdist_verified_pairs(
        load_table(spark, sf, "documents"), max_dist=16
    )


QUERIES["dedup_editdist_pairs"] = dedup_editdist_pairs
ORACLE["dedup_editdist_pairs"] = f"""WITH {minhash_sql},
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
          WHERE a.doc_id < b.doc_id)
SELECT p.doc_a, p.doc_b,
       CAST(length(COALESCE(da.text,'')) AS BIGINT) AS len_a,
       CAST(length(COALESCE(db.text,'')) AS BIGINT) AS len_b,
       CAST(levenshtein(COALESCE(da.text,''), COALESCE(db.text,'')) AS BIGINT) AS edit_dist,
       levenshtein(COALESCE(da.text,''), COALESCE(db.text,'')) <= 16 AS is_dup
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b"""


# --- dedup closure: LSH pairs -> connected components -> survivors ---
def doc_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    pairs = minhash_lsh_pairs(load_table(spark, sf, "documents"))
    return connected_components(pairs)


QUERIES["doc_dup_clusters"] = doc_dup_clusters

# connected components over the minhash pair graph: component = min
# reachable id (recursive transitive closure — tractable at oracle sf)
cc_sql = f"""WITH RECURSIVE {minhash_sql},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT re.node, e.dst AS r FROM reach re JOIN edges e ON re.r = e.src
),
comp AS (
  SELECT node, LEAST(node, min(r)) AS component FROM reach GROUP BY node
)"""

ORACLE["doc_dup_clusters"] = (
    cc_sql + "\nSELECT CAST(node AS BIGINT) AS doc_id,"
    " CAST(component AS BIGINT) AS component FROM comp"
)


def doc_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup_survivors(docs, minhash_lsh_pairs(docs))


QUERIES["doc_dedup_survivors"] = doc_dedup_survivors
ORACLE["doc_dedup_survivors"] = (
    cc_sql
    + """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.node AND c.node <> c.component
WHERE c.node IS NULL"""
)


# keep='best' survivor policy: highest quality_score per cluster
# survives (ties -> lowest id), unpaired docs pass through
def doc_dedup_survivors_best(spark: SparkSession, sf: str) -> DataFrame:
    docs = quality_score(load_table(spark, sf, "documents"))
    return dedup_survivors(
        docs,
        minhash_lsh_pairs(docs),
        keep="best",
        quality_col="quality_score",
    )


QUERIES["doc_dedup_survivors_best"] = doc_dedup_survivors_best
# keep='best': per cluster the highest-quality member survives
# (ties -> lowest id); quality = the same doc_quality expression
ORACLE["doc_dedup_survivors_best"] = (
    cc_sql
    + """,
qs AS (SELECT doc_id,
        CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+')) END AS n_tokens,
        length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[A-Za-z]', '', 'g')) AS n_alpha,
        length(COALESCE(text,'')) AS n_chars
       FROM documents),
qr AS (SELECT doc_id,
        ((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
         + COALESCE(CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE)/n_chars END, 0.0)
         + (CASE WHEN n_tokens > 0 AND CAST(n_alpha AS DOUBLE)/n_tokens >= 2.0
                  AND CAST(n_alpha AS DOUBLE)/n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
        ) / 3.0 AS quality_score
       FROM qs),
ranked AS (SELECT c.node, ROW_NUMBER() OVER (
             PARTITION BY c.component
             ORDER BY q.quality_score DESC, c.node ASC) AS rn
           FROM comp c JOIN qr q ON c.node = q.doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.node
LEFT JOIN ranked k ON d.doc_id = k.node AND k.rn = 1
WHERE c.node IS NULL OR k.node IS NOT NULL"""
)


def doc_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return containment_pairs(
        load_table(spark, sf, "documents"), threshold=0.2
    )


QUERIES["doc_containment_pairs"] = doc_containment_pairs
# Broder max-containment over the shared shingle CTE
# (dedup.containment_pairs) and the dup-cluster size histogram over the
# shared connected-components CTE (clusters.cluster_size_histogram).
ORACLE["doc_containment_pairs"] = f"""WITH {shingle_sql},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh
          GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(count(*) AS BIGINT) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle
            AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(CAST(n_inter AS DOUBLE)
         / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE)
        / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6) >= 0.2"""


def doc_cluster_histogram(spark: SparkSession, sf: str) -> DataFrame:
    pairs = minhash_lsh_pairs(load_table(spark, sf, "documents"))
    return cluster_size_histogram(connected_components(pairs))


QUERIES["doc_cluster_histogram"] = doc_cluster_histogram
ORACLE["doc_cluster_histogram"] = (
    cc_sql
    + """
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * sz AS BIGINT) AS n_docs
FROM (SELECT component, count(*) AS sz FROM comp GROUP BY component)
GROUP BY sz"""
)


def lsh_candidate_quality_q(spark: SparkSession, sf: str) -> DataFrame:
    return lsh_candidate_quality(load_table(spark, sf, "documents"))


QUERIES["lsh_candidate_quality"] = lsh_candidate_quality_q
# LSH candidate-quality histogram over the shared minhash CTEs and the
# return-flag mix per ship month.
ORACLE["lsh_candidate_quality"] = f"""WITH {minhash_sql},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band
           AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh
          GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT)
            AS n_inter
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b ON b.doc_id = c.doc_b
                        AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b),
jc AS (SELECT c.doc_a, c.doc_b,
         COALESCE(round(CAST(i.n_inter AS DOUBLE)
           / (sa.n_sh + sb.n_sh - i.n_inter), 6), 0.0) AS j
       FROM cand c
       LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
       JOIN sizes sa ON sa.doc_id = c.doc_a
       JOIN sizes sb ON sb.doc_id = c.doc_b)
SELECT CAST(floor(j * 10) AS BIGINT) AS jaccard_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM jc GROUP BY 1"""


def dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    return dedup_savings_by_source(load_table(spark, sf, "documents"))


QUERIES["dedup_savings"] = dedup_savings
ORACLE["dedup_savings"] = """WITH groups AS (
  SELECT source, md5(COALESCE(text, '')) AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(max(n_chars) AS BIGINT) AS doc_bytes
  FROM documents GROUP BY source, md5(COALESCE(text, ''))),
ag AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(n * doc_bytes) AS BIGINT) AS total_bytes,
         CAST(sum((n - 1) * doc_bytes) AS BIGINT) AS redundant_bytes
       FROM groups GROUP BY source)
SELECT source, n_docs, n_distinct, total_bytes, redundant_bytes,
       CASE WHEN total_bytes > 0 THEN
         round(CAST(redundant_bytes AS DOUBLE)
           / CAST(total_bytes AS DOUBLE), 6) END AS savings_share
FROM ag"""


def dup_rate_by_len(spark: SparkSession, sf: str) -> DataFrame:
    return dup_rate_by_length(load_table(spark, sf, "documents"))


QUERIES["dup_rate_by_len"] = dup_rate_by_len
ORACLE["dup_rate_by_len"] = """WITH groups AS (
  SELECT md5(COALESCE(text, '')) AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(max(n_chars) AS BIGINT) AS doc_chars
  FROM documents GROUP BY md5(COALESCE(text, ''))),
hist AS (SELECT CAST(CASE WHEN doc_chars > 0 THEN
             length(bin(doc_chars)) - 1 ELSE 0 END AS INTEGER)
             AS bucket,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(n - 1) AS BIGINT) AS n_redundant
         FROM groups GROUP BY 1)
SELECT bucket, CAST(1 << bucket AS BIGINT) AS lo_chars, n_docs,
       n_redundant,
       round(CAST(n_redundant AS DOUBLE)
         / CAST(n_docs AS DOUBLE), 6) AS dup_rate
FROM hist"""


def oracle() -> dict[str, str]:
    return ORACLE
