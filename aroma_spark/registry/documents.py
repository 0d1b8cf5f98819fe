"""Training-data operations over the documents corpus: text statistics,
quality, language id, tokenization, PII scrubbing, splits,
decontamination, sequence packing and the curation flagship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.functions.multimodal import extract_features, media_from_documents
from aroma_spark.functions.text import (
    DOMAIN_PATTERN,
    ENTROPY_LANGS,
    LANG_MARKERS,
    REDACTION_RULES,
    SCRIPT_CLASSES,
    bigram_collocations,
    bpe_token_count,
    charclass_by_lang,
    collocation_pmi_sql,
    conversation_ttr,
    cross_source_dup,
    domain_counts,
    dup_rate_by_lang,
    fano_sql,
    fingerprint,
    fk_grade_sql,
    flesch_sql,
    lang_id,
    lang_source_matrix,
    langid_confusion,
    oov_rate_daily,
    prefix_dup_by_source,
    quality_by_len_bucket,
    quality_gate_by_lang,
    quality_score,
    readability,
    redact_pii,
    repetition_score,
    source_lang_entropy,
    source_profile,
    source_ttr,
    term_fano,
    term_postings,
    tfidf_terms,
    top_term_per_lang,
    top_terms_overlap_daily,
    topterms_jaccard_sql,
    trending_terms_daily,
    ttr_sql,
    vocab_growth_daily,
    with_text_stats,
    word_len_hist,
    zipf_buckets,
)
from aroma_spark.operators.decontam import ngram_overlap, ngram_overlap_bloom
from aroma_spark.operators.packing import pack_chunks, pack_nextfit, packing_stats
from aroma_spark.operators.splits import (
    split_counts,
    split_leakage_audit,
    stratified_sample,
    with_split,
)
from aroma_spark.plans.curate import curate_stats
from aroma_spark.registry import Query
from aroma_spark.sources.transcripts import (
    TRANSCRIPTS_SQL,
    load_table,
    transcripts_from_events,
)

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


# --- multimodal plumbing: payloads from the documents corpus, real
# Arrow mapInPandas feature extraction, feature array posexploded so
# every float32 is oracle-hashed against the DuckDB md5-projection ---
def media_features(spark: SparkSession, sf: str) -> DataFrame:
    feats = extract_features(
        media_from_documents(load_table(spark, sf, "documents"))
    )
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.posexplode("feature").alias("pos", "fval"),
    ).select(
        "media_id",
        "kind",
        "n_bytes",
        F.col("pos").cast("long").alias("pos"),
        "fval",
    )


QUERIES["media_features"] = media_features
# media features: payload = UTF-8 text bytes; feature[j] = LE-uint32
# j%4 of md5(payload) / 2^32 as float32 (fake_features' md5-seeded
# projection has period 4: 16 digest bytes tile the 64-byte buffer).
ORACLE["media_features"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
         md5(COALESCE(text, '')) AS h,
         CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes
  FROM documents
),
g AS (SELECT media_id, kind, h, n_bytes, unnest(range(0, 16)) AS pos FROM m)
SELECT media_id, kind, n_bytes, CAST(pos AS BIGINT) AS pos,
       CAST(CAST(('0x' || substr(h, CAST((pos % 4) * 8 + 7 AS INT), 2)
                       || substr(h, CAST((pos % 4) * 8 + 5 AS INT), 2)
                       || substr(h, CAST((pos % 4) * 8 + 3 AS INT), 2)
                       || substr(h, CAST((pos % 4) * 8 + 1 AS INT), 2)) AS BIGINT)
            / 4294967296.0 AS REAL) AS fval
FROM g"""

QUERIES["doc_text_stats"] = lambda spark, sf: with_text_stats(
    load_table(spark, sf, "documents")
).select("doc_id", "n_chars_calc", "n_tokens", "n_alpha", "n_digit",
         "alpha_per_token", "alpha_ratio")
ORACLE["doc_text_stats"] = """
SELECT doc_id,
  CAST(length(COALESCE(text,'')) AS BIGINT) AS n_chars_calc,
  CAST(CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+')) END AS BIGINT) AS n_tokens,
  CAST(length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
  CAST(length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
  CASE WHEN (CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+')) END) > 0
       THEN CAST(length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[A-Za-z]', '', 'g')) AS DOUBLE)
            / (CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+')) END) END AS alpha_per_token,
  CASE WHEN length(COALESCE(text,'')) > 0
       THEN CAST(length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[A-Za-z]', '', 'g')) AS DOUBLE)
            / length(COALESCE(text,'')) END AS alpha_ratio
FROM documents"""

QUERIES["doc_quality"] = lambda spark, sf: quality_score(
    load_table(spark, sf, "documents")
).select("doc_id", "quality_score")
ORACLE["doc_quality"] = """
WITH s AS (
  SELECT doc_id,
    CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+')) END AS n_tokens,
    length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[A-Za-z]', '', 'g')) AS n_alpha,
    length(COALESCE(text,'')) AS n_chars
  FROM documents
)
SELECT doc_id,
  ((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
   + COALESCE(CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE)/n_chars END, 0.0)
   + (CASE WHEN n_tokens > 0 AND CAST(n_alpha AS DOUBLE)/n_tokens >= 2.0
            AND CAST(n_alpha AS DOUBLE)/n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
  ) / 3.0 AS quality_score
FROM s"""

QUERIES["doc_langid"] = lambda spark, sf: lang_id(
    load_table(spark, sf, "documents")
).select("doc_id", "lang_pred")


# doc_langid oracle GENERATED from the same LANG_MARKERS /
# SCRIPT_CLASSES tables the engine reads — widening the tables
# widens both engines in lockstep (round-4 verdict item 7)
def _cnt(m: str) -> str:
    return f"CAST((length(low) - length(replace(low, '{m}', ''))) / {len(m)} AS BIGINT)"


score_exprs = {
    lang: " + ".join(_cnt(m) for m in marks)
    for lang, marks in LANG_MARKERS.items()
}

score_sel = ", ".join(f"({e}) AS s_{lang}" for lang, e in score_exprs.items())

script_sel = ", ".join(
    f"CAST(length(low) - length(regexp_replace(low, '{cls}', '', 'g')) AS BIGINT) AS c_{lang}"
    for lang, cls in SCRIPT_CLASSES.items()
)

best_expr = "greatest(" + ", ".join(
    f"s_{lang}" for lang in LANG_MARKERS
) + ")"

pick = "'und'"

for lang in reversed(list(LANG_MARKERS)):
    pick = f"CASE WHEN s_{lang} = best THEN '{lang}' ELSE {pick} END"
del lang

script_whens = "\n       ".join(
    f"WHEN c_{lang} * 4 > ntok THEN '{lang}'" for lang in SCRIPT_CLASSES
)

ORACLE["doc_langid"] = f"""
WITH l AS (SELECT doc_id, ' ' || lower(COALESCE(text,'')) || ' ' AS low FROM documents),
s AS (SELECT doc_id, low, {score_sel},
      {script_sel},
      CAST(CASE WHEN trim(low) = '' THEN 0 ELSE len(regexp_split_to_array(trim(low), '\\s+')) END AS BIGINT) AS ntok
      FROM l),
b AS (SELECT *, {best_expr} AS best FROM s)
SELECT doc_id,
  CASE {script_whens}
       WHEN best = 0 THEN 'und'
       ELSE {pick} END AS lang_pred
FROM b"""

QUERIES["doc_fingerprint"] = lambda spark, sf: fingerprint(
    load_table(spark, sf, "documents")
).select("doc_id", "fp_exact", "fp_norm", "fp_rolling")
ORACLE["doc_fingerprint"] = """
SELECT doc_id, md5(COALESCE(text,'')) AS fp_exact,
       md5(trim(regexp_replace(lower(COALESCE(text,'')), '\\s+', ' ', 'g'))) AS fp_norm,
       COALESCE(list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(split(COALESCE(text,''), ''), c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007), 0) AS fp_rolling
FROM documents"""


def doc_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


QUERIES["doc_bpe_tokens"] = doc_bpe_tokens
ORACLE["doc_bpe_tokens"] = """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(COALESCE(text,'')), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]')) AS BIGINT) AS n_bpe_tokens
FROM documents"""


# --- PII scrubbing + URL-domain provenance (round 5). The synth
# corpus has no emails/URLs, so both engines inject a deterministic
# PII slice into every 5th document first (the dedup_exact
# non-vacuous-oracle pattern) — the redaction counts then provably
# count and the replacements provably rewrite. ---
def _with_pii(docs: DataFrame) -> DataFrame:
    base = F.coalesce(F.col("text"), F.lit(""))
    injected = F.concat(
        base,
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com see https://cdn"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".example.org/path?x=1 from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 end"),
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, injected)
        .otherwise(base)
        .alias("text"),
    )


def doc_redact(spark: SparkSession, sf: str) -> DataFrame:
    return redact_pii(
        _with_pii(load_table(spark, sf, "documents"))
    ).select(
        "doc_id",
        "n_email",
        "n_url",
        "n_ipv4",
        F.md5("text_redacted").alias("redacted_md5"),
    )


QUERIES["doc_redact"] = doc_redact

# redaction / domain oracles generated from REDACTION_RULES /
# DOMAIN_PATTERN — single source of truth with the engine
PII_CTE = """WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN
      COALESCE(text,'') || ' contact doc' || CAST(doc_id AS VARCHAR)
      || '@mail.example.com see https://cdn' || CAST(doc_id % 37 AS VARCHAR)
      || '.example.org/path?x=1 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end'
    ELSE COALESCE(text,'') END AS text
  FROM documents)"""

count_sel = ", ".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{kind}"
    for kind, pat, _ in REDACTION_RULES
)

red_expr = "text"

for _, pat, tok in REDACTION_RULES:
    red_expr = f"regexp_replace({red_expr}, '{pat}', '{tok}', 'g')"
del _, pat, tok

ORACLE["doc_redact"] = f"""{PII_CTE}
SELECT doc_id, {count_sel}, md5({red_expr}) AS redacted_md5
FROM d"""


def doc_domains(spark: SparkSession, sf: str) -> DataFrame:
    return domain_counts(_with_pii(load_table(spark, sf, "documents")))


QUERIES["doc_domains"] = doc_domains
ORACLE["doc_domains"] = f"""{PII_CTE}
SELECT domain, CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{DOMAIN_PATTERN}', 1)) AS domain FROM d)
GROUP BY domain"""


def doc_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    return tfidf_terms(load_table(spark, sf, "documents"))


QUERIES["doc_tfidf"] = doc_tfidf
ORACLE["doc_tfidf"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(COALESCE(text,''))), '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks WHERE term <> '' GROUP BY doc_id, term),
docfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
       round(CAST(tf.tf AS DOUBLE)
             * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(docfreq.df + 1 AS DOUBLE)),
             6) AS tfidf
FROM tf JOIN docfreq USING (term) CROSS JOIN n"""


# --- deterministic hash split (train/val/test) ---
def doc_split(spark: SparkSession, sf: str) -> DataFrame:
    return with_split(
        load_table(spark, sf, "documents"), "doc_id"
    ).select("doc_id", "split")


QUERIES["doc_split"] = doc_split

split_u = (
    "CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) / 4294967296.0"
)

ORACLE["doc_split"] = f"""
SELECT doc_id,
       CASE WHEN {split_u} < 0.8 THEN 'train'
            WHEN {split_u} < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM documents"""


def doc_split_counts(spark: SparkSession, sf: str) -> DataFrame:
    return split_counts(load_table(spark, sf, "documents"), "doc_id")


QUERIES["doc_split_counts"] = doc_split_counts
ORACLE["doc_split_counts"] = f"""
WITH s AS ({ORACLE["doc_split"]})
SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys
FROM s GROUP BY split"""


# --- decontamination: train-vs-test n-gram overlap ---
def doc_decontam(spark: SparkSession, sf: str) -> DataFrame:
    docs = with_split(load_table(spark, sf, "documents"), "doc_id")
    return ngram_overlap(
        docs.where(F.col("split") == "train"),
        docs.where(F.col("split") == "test"),
        n=3,
    )


QUERIES["doc_decontam"] = doc_decontam
# decontamination: distinct 3-gram overlap of train docs vs the test
# split's shingle set (split rule identical to doc_split)
ORACLE["doc_decontam"] = f"""
WITH s AS (SELECT doc_id, text,
       CASE WHEN {split_u} < 0.8 THEN 'train'
            WHEN {split_u} < 0.9 THEN 'val'
            ELSE 'test' END AS split
       FROM documents),
w AS (SELECT doc_id, split,
      regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM s),
sh AS (SELECT DISTINCT doc_id, split,
       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
       FROM w, UNNEST(range(1, len(ws)-1)) AS t(i) WHERE len(ws) >= 3),
h AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test')
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       round(CAST(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS overlap
FROM sh c LEFT JOIN h ON c.shingle = h.shingle
WHERE c.split = 'train'
GROUP BY c.doc_id"""


# Bloom variant, oracle-checked in the no-FP regime: at sf0.01/0.1
# the 2^23-bit bitmap holds <=70k set bits (<1% fill), so the
# expected false-positive count across all ~200k probes is ~1e-3 —
# the hash-exact match against the EXACT overlap SQL is the hard
# signal that the bitmap build/probe produce the true counts. (The
# superset-of-exact guarantee under deliberate undersizing stays
# unit-tested in test_text.)
def doc_decontam_bloom(spark: SparkSession, sf: str) -> DataFrame:
    docs = with_split(load_table(spark, sf, "documents"), "doc_id")
    return ngram_overlap_bloom(
        docs.where(F.col("split") == "train"),
        docs.where(F.col("split") == "test"),
        n=3,
    )


QUERIES["doc_decontam_bloom"] = doc_decontam_bloom
# Bloom decontamination: the bitmap is sized for the no-FP regime at
# oracle scale (<1% fill -> expected FPs ~1e-3 across all probes),
# so the Bloom counts must equal the exact path's — the oracle IS
# the exact overlap SQL.
ORACLE["doc_decontam_bloom"] = ORACLE["doc_decontam"]


# --- repetition score: duplicate n-gram fraction (quality signal) ---
def doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    return repetition_score(load_table(spark, sf, "documents")).select(
        "doc_id", "n_grams_total", "n_grams_distinct", "repetition"
    )


QUERIES["doc_repetition"] = doc_repetition
# repetition: duplicate 3-gram fraction, pure per-row list ops
ORACLE["doc_repetition"] = """
WITH w AS (SELECT doc_id,
       regexp_split_to_array(lower(trim(COALESCE(text,''))), '\\s+') AS ws
       FROM documents),
g AS (SELECT doc_id,
      CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws)-1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [] END AS grams FROM w)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams_total,
       CAST(CASE WHEN len(grams) > 0 THEN len(list_distinct(grams))
            ELSE 0 END AS BIGINT) AS n_grams_distinct,
       CASE WHEN len(grams) > 0
            THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                             / len(grams), 6)
            ELSE 0.0 END AS repetition
FROM g"""


# --- sequence packing (training-data op: docs -> fixed token budgets) ---
def pack_chunks_q(spark: SparkSession, sf: str) -> DataFrame:
    return pack_chunks(
        load_table(spark, sf, "documents"), budget=256, n_buckets=8
    )


QUERIES["pack_chunks"] = pack_chunks_q

# sequence packing: bucketed token streams, budget 256, 8 buckets
pack_base = """
t AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+'))
              END AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 8 AS BIGINT) AS bucket
  FROM documents
),
f AS (SELECT * FROM t WHERE n_tokens > 0)"""

ORACLE["pack_chunks"] = f"""WITH {pack_base},
c AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (
      PARTITION BY bucket ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM f
),
seg AS (
  SELECT *, unnest(generate_series(CAST(cum_before // 256 AS BIGINT),
                                   CAST((cum_before + n_tokens - 1) // 256
                                        AS BIGINT))) AS seq_id
  FROM c
)
SELECT doc_id, bucket, n_tokens, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(GREATEST(cum_before, seq_id * 256) - cum_before AS BIGINT) AS doc_offset,
       CAST(GREATEST(cum_before, seq_id * 256) - seq_id * 256 AS BIGINT) AS seq_offset,
       CAST(LEAST(cum_before + n_tokens, (seq_id + 1) * 256)
            - GREATEST(cum_before, seq_id * 256) AS BIGINT) AS seg_len
FROM seg"""


def pack_nextfit_q(spark: SparkSession, sf: str) -> DataFrame:
    return pack_nextfit(
        load_table(spark, sf, "documents"), budget=256, n_buckets=8
    )


QUERIES["pack_nextfit"] = pack_nextfit_q

# next-fit fill recurrence as a rank-by-rank recursive CTE
pack_nextfit_sql = f"""WITH RECURSIVE {pack_base},
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
                 AS BIGINT) AS rn
  FROM f
),
packrec AS (
  SELECT bucket, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS offset_in_bin,
         n_tokens AS fill
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.bucket, r.rn, r.doc_id, r.n_tokens,
         CASE WHEN p.fill + r.n_tokens <= 256 THEN p.bin_idx
              ELSE p.bin_idx + 1 END,
         CASE WHEN p.fill + r.n_tokens <= 256 THEN p.fill
              ELSE CAST(0 AS BIGINT) END,
         CASE WHEN p.fill + r.n_tokens <= 256 THEN p.fill + r.n_tokens
              ELSE r.n_tokens END
  FROM packrec p JOIN r ON r.bucket = p.bucket AND r.rn = p.rn + 1
)
SELECT doc_id, bucket, n_tokens, bin_idx, offset_in_bin FROM packrec"""

ORACLE["pack_nextfit"] = pack_nextfit_sql


def pack_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    return packing_stats(
        pack_nextfit(
            load_table(spark, sf, "documents"), budget=256, n_buckets=8
        ),
        budget=256,
    )


QUERIES["pack_stats"] = pack_stats_q
ORACLE["pack_stats"] = f"""WITH nf AS ({pack_nextfit_sql})
SELECT bucket, bin_idx, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS fill_tokens,
       CAST(256 - sum(n_tokens) AS BIGINT) AS waste_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / 256.0 AS fill_ratio
FROM nf GROUP BY bucket, bin_idx"""


# --- curation flagship: the full end-to-end training-data pipeline
# (exact dedup -> LSH closure -> quality gates -> split -> decontam
# -> packing), checked per-stage against a single DuckDB program ---
def curate_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    return curate_stats(load_table(spark, sf, "documents"))


QUERIES["curate_stats"] = curate_stats_q
# curation flagship: the whole chain as ONE DuckDB program — per-stage
# survivor sets as CTEs, the same recursive closure and next-fit
# recurrences as the standalone oracles, integer-safe decontam gate
ORACLE["curate_stats"] = f"""WITH RECURSIVE
d0 AS (SELECT doc_id, text FROM documents),
ex AS (SELECT min(doc_id) AS doc_id FROM d0 GROUP BY md5(COALESCE(text,''))),
d1 AS (SELECT d0.doc_id, d0.text FROM d0 JOIN ex USING (doc_id)),
w1 AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM d1),
sh1 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        FROM w1, UNNEST(range(1, len(ws)-1)) AS t(i) WHERE len(ws) >= 3),
mh AS (SELECT doc_id, i AS hash_idx, min(md5(i || ':' || shingle)) AS minhash
       FROM sh1, UNNEST(range(0, 12)) AS t(i) GROUP BY doc_id, i),
bands AS (SELECT doc_id, CAST(hash_idx // 4 AS INT) AS band,
                 md5(string_agg(minhash, '|' ORDER BY hash_idx)) AS band_key
          FROM mh GROUP BY doc_id, hash_idx // 4),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
          WHERE a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach AS (SELECT src AS node, dst AS r FROM edges
          UNION SELECT re.node, e.dst AS r FROM reach re JOIN edges e ON re.r = e.src),
comp AS (SELECT node, LEAST(node, min(r)) AS component FROM reach GROUP BY node),
d2 AS (SELECT d1.doc_id, d1.text FROM d1
       LEFT JOIN comp c ON d1.doc_id = c.node AND c.node <> c.component
       WHERE c.node IS NULL),
qs AS (SELECT doc_id, text,
        CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+')) END AS n_tokens,
        length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[A-Za-z]', '', 'g')) AS n_alpha,
        length(COALESCE(text,'')) AS n_chars,
        regexp_split_to_array(lower(trim(COALESCE(text,''))), '\\s+') AS ws
       FROM d2),
qr AS (SELECT doc_id, text,
        ((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
         + COALESCE(CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE)/n_chars END, 0.0)
         + (CASE WHEN n_tokens > 0 AND CAST(n_alpha AS DOUBLE)/n_tokens >= 2.0
                  AND CAST(n_alpha AS DOUBLE)/n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
        ) / 3.0 AS quality_score,
        CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 0 END AS n_g,
        CASE WHEN len(ws) >= 3
             THEN len(list_distinct(list_transform(range(1, len(ws)-1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
             ELSE 0 END AS n_gd
       FROM qs),
d3 AS (SELECT doc_id, text FROM qr
       WHERE quality_score >= 0.5
         AND (CASE WHEN n_g > 0 THEN round(1.0 - CAST(n_gd AS DOUBLE)/n_g, 6)
              ELSE 0.0 END) <= 0.2),
d4 AS (SELECT doc_id, text FROM d3 WHERE {{SPLIT_U}} < 0.8),
hold AS (SELECT doc_id FROM d3 WHERE {{SPLIT_U}} >= 0.9),
hsh AS (SELECT DISTINCT s.shingle FROM sh1 s JOIN hold h ON s.doc_id = h.doc_id),
ov AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN hs.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       FROM sh1 s JOIN d4 ON s.doc_id = d4.doc_id
       LEFT JOIN hsh hs ON s.shingle = hs.shingle
       GROUP BY s.doc_id),
d5 AS (SELECT d4.doc_id, d4.text FROM d4
       LEFT JOIN ov ON d4.doc_id = ov.doc_id AND ov.n_hit * 2 > ov.n_grams
       WHERE ov.doc_id IS NULL),
pt AS (SELECT doc_id,
         CAST(CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(COALESCE(text,'')), '\\s+'))
              END AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 8 AS BIGINT) AS bucket
       FROM d5),
pr AS (SELECT *, CAST(row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
                      AS BIGINT) AS rn
       FROM pt WHERE n_tokens > 0),
packrec AS (
  SELECT bucket, rn, n_tokens, CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill
  FROM pr WHERE rn = 1
  UNION ALL
  SELECT r.bucket, r.rn, r.n_tokens,
         CASE WHEN p.fill + r.n_tokens <= 256 THEN p.bin_idx
              ELSE p.bin_idx + 1 END,
         CASE WHEN p.fill + r.n_tokens <= 256 THEN p.fill + r.n_tokens
              ELSE r.n_tokens END
  FROM packrec p JOIN pr r ON r.bucket = p.bucket AND r.rn = p.rn + 1
),
pk AS (SELECT CAST(count(*) AS BIGINT) AS n
       FROM (SELECT DISTINCT bucket, bin_idx FROM packrec))
SELECT 'input' AS stage, CAST(count(*) AS BIGINT) AS n_rows FROM d0
UNION ALL SELECT 'exact', CAST(count(*) AS BIGINT) FROM d1
UNION ALL SELECT 'near', CAST(count(*) AS BIGINT) FROM d2
UNION ALL SELECT 'quality', CAST(count(*) AS BIGINT) FROM d3
UNION ALL SELECT 'train', CAST(count(*) AS BIGINT) FROM d4
UNION ALL SELECT 'decontam', CAST(count(*) AS BIGINT) FROM d5
UNION ALL SELECT 'packed', n FROM pk""".replace(
    "{SPLIT_U}",
    "CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) / 4294967296.0",
)


# --- deterministic stratified sampling (hash-threshold, no RNG) ---
def doc_sample_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    return stratified_sample(
        load_table(spark, sf, "documents"),
        "doc_id",
        "lang",
        {"en": 0.25, "fr": 0.5, "de": 0.5, "es": 0.5, "zh": 1.0},
    ).select("doc_id", "lang")


QUERIES["doc_sample_by_lang"] = doc_sample_by_lang

sample_u = (
    "CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) / 4294967296.0"
)

ORACLE["doc_sample_by_lang"] = f"""
SELECT doc_id, lang FROM documents
WHERE {sample_u} < CASE lang WHEN 'en' THEN 0.25 WHEN 'fr' THEN 0.5
                             WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5
                             WHEN 'zh' THEN 1.0 ELSE 0.0 END"""


def term_postings_q(spark: SparkSession, sf: str) -> DataFrame:
    return term_postings(
        load_table(spark, sf, "documents"), min_df=2, max_df=10000
    )


QUERIES["term_postings"] = term_postings_q
ORACLE["term_postings"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(COALESCE(text,''))),
                                      '\\s+')) AS term
  FROM documents),
pairs AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
banded AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM pairs GROUP BY term
           HAVING count(*) BETWEEN 2 AND 10000)
SELECT term, df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM pairs JOIN banded USING (term)
GROUP BY term, df"""


def vocab_growth_daily_q(spark: SparkSession, sf: str) -> DataFrame:
    return vocab_growth_daily(transcripts_from_events(spark, sf))


QUERIES["vocab_growth_daily"] = vocab_growth_daily_q
# Heaps-law vocabulary growth over the transcript stream, Zipf
# power-of-two frequency histogram over the documents corpus — both on
# the corpus-standard whitespace tokenizer shared with doc_tfidf.
ORACLE["vocab_growth_daily"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
tok AS (SELECT CAST(ts AS DATE) AS day,
          unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                       '\\s+')) AS term
        FROM t),
tk AS (SELECT day, term FROM tok WHERE term <> ''),
daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(count(DISTINCT term) AS BIGINT) AS n_distinct_terms
          FROM tk GROUP BY day),
nbd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new_terms
        FROM (SELECT term, min(day) AS day FROM tk GROUP BY term)
        GROUP BY day),
j AS (SELECT d.day, d.n_tokens, d.n_distinct_terms,
        CAST(COALESCE(n.n_new_terms, 0) AS BIGINT) AS n_new_terms
      FROM daily d LEFT JOIN nbd n ON d.day = n.day)
SELECT day, n_tokens, n_distinct_terms, n_new_terms,
       CAST(sum(n_new_terms) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size,
       CAST(n_distinct_terms AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
FROM j"""


def zipf_buckets_q(spark: SparkSession, sf: str) -> DataFrame:
    return zipf_buckets(load_table(spark, sf, "documents"))


QUERIES["zipf_buckets"] = zipf_buckets_q
ORACLE["zipf_buckets"] = """WITH tok AS (
  SELECT unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                      '\\s+')) AS term
  FROM documents),
f AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
      FROM tok WHERE term <> '' GROUP BY term)
SELECT CAST(length(format('{:b}', freq)) AS INT) AS freq_bin,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(freq) AS BIGINT) AS sum_tokens
FROM f GROUP BY freq_bin"""


def doc_collocations(spark: SparkSession, sf: str) -> DataFrame:
    return bigram_collocations(load_table(spark, sf, "documents"))


QUERIES["doc_collocations"] = doc_collocations
ORACLE["doc_collocations"] = f"""WITH tokd AS (
  SELECT list_filter(regexp_split_to_array(lower(trim(COALESCE(text,
           ''))), '\\s+'), x -> x <> '') AS toks
  FROM documents),
uni AS (SELECT unnest(toks) AS term FROM tokd),
uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c_term FROM uni
       GROUP BY term),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM uni),
bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
       FROM (SELECT toks,
               unnest(generate_series(1, len(toks) - 1)) AS i
             FROM tokd)),
btot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigrams FROM bg),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM bg
       GROUP BY w1, w2 HAVING count(*) >= 3),
j AS (SELECT bc.w1, bc.w2, bc.c_xy, ux.c_term AS c_x,
        uy.c_term AS c_y, btot.n_bigrams, tot.n_tokens
      FROM bc JOIN uc ux ON bc.w1 = ux.term
        JOIN uc uy ON bc.w2 = uy.term, btot, tot)
SELECT w1, w2, c_xy, c_x, c_y, n_bigrams, n_tokens,
       {collocation_pmi_sql()} AS pmi
FROM j"""


def topterms_overlap_daily(spark: SparkSession, sf: str) -> DataFrame:
    return top_terms_overlap_daily(transcripts_from_events(spark, sf))


QUERIES["topterms_overlap_daily"] = topterms_overlap_daily
# Top-K term-set day-over-day Jaccard and Church-Gale per-term Fano
# burstiness; corpus-standard whitespace tokenizer, exact int64 counts,
# ONE shared float expression each.
ORACLE["topterms_overlap_daily"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
tok AS (SELECT date_trunc('day', ts) AS day,
          unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                       '\\s+')) AS term
        FROM t),
counts AS (SELECT day, term, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE term <> '' GROUP BY day, term),
topk AS (SELECT day, term FROM
           (SELECT day, term,
              row_number() OVER (PARTITION BY day
                ORDER BY c DESC, term ASC) AS rk
            FROM counts)
         WHERE rk <= 20),
u AS (SELECT day AS pair_day, term, 1 AS in_cur, 0 AS in_prev
      FROM topk
      UNION ALL
      SELECT day + INTERVAL 1 DAY AS pair_day, term, 0 AS in_cur,
             1 AS in_prev
      FROM topk),
g AS (SELECT pair_day, term, max(in_cur) AS cc, max(in_prev) AS cp
      FROM u GROUP BY pair_day, term),
ag AS (SELECT pair_day, CAST(sum(cp) AS BIGINT) AS k_prev,
         CAST(sum(cc) AS BIGINT) AS k_cur,
         CAST(sum(cc * cp) AS BIGINT) AS n_common
       FROM g GROUP BY pair_day
       HAVING sum(cp) > 0 AND sum(cc) > 0)
SELECT pair_day AS day_ts, k_prev, k_cur, n_common,
       {topterms_jaccard_sql()} AS jaccard
FROM ag"""


def term_fano_q(spark: SparkSession, sf: str) -> DataFrame:
    return term_fano(transcripts_from_events(spark, sf))


QUERIES["term_fano"] = term_fano_q
ORACLE["term_fano"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
tok AS (SELECT date_trunc('day', ts) AS day,
          unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                       '\\s+')) AS term
        FROM t),
daily AS (SELECT day, term, CAST(count(*) AS BIGINT) AS c
          FROM tok WHERE term <> '' GROUP BY day, term),
nd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days
       FROM daily),
ag AS (SELECT term, CAST(sum(c) AS BIGINT) AS total_count,
         CAST(sum(c * c) AS BIGINT) AS sumsq_daily
       FROM daily GROUP BY term HAVING sum(c) >= 20)
SELECT term, n_days, total_count, sumsq_daily, {fano_sql()} AS fano
FROM ag CROSS JOIN nd"""


def doc_readability(spark: SparkSession, sf: str) -> DataFrame:
    return readability(load_table(spark, sf, "documents"))


QUERIES["doc_readability"] = doc_readability
ORACLE["doc_readability"] = f"""WITH cnt AS (
  SELECT doc_id,
    CAST(len(list_filter(regexp_split_to_array(
      lower(trim(COALESCE(text, ''))), '\\s+'), x -> x <> ''))
      AS BIGINT) AS n_words,
    CAST(length(COALESCE(text, ''))
      - length(regexp_replace(COALESCE(text, ''), '[.!?]', '', 'g'))
      AS BIGINT) AS n_sentences,
    CAST(len(regexp_extract_all(lower(trim(COALESCE(text, ''))),
      '[aeiouy]+')) AS BIGINT) AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_syllables,
       {flesch_sql()} AS flesch, {fk_grade_sql()} AS fk_grade
FROM cnt"""


def conv_ttr(spark: SparkSession, sf: str) -> DataFrame:
    return conversation_ttr(transcripts_from_events(spark, sf))


QUERIES["conv_ttr"] = conv_ttr
ORACLE["conv_ttr"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
tok AS (SELECT conv_id,
          unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                       '\\s+')) AS term
        FROM t),
tc AS (SELECT conv_id, term, CAST(count(*) AS BIGINT) AS c
       FROM tok WHERE term <> '' GROUP BY conv_id, term),
ag AS (SELECT conv_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
       FROM tc GROUP BY conv_id)
SELECT conv_id, n_tokens, n_types, n_hapax, {ttr_sql()} AS ttr
FROM ag"""


def langid_confusion_q(spark: SparkSession, sf: str) -> DataFrame:
    return langid_confusion(load_table(spark, sf, "documents"))


QUERIES["langid_confusion"] = langid_confusion_q
# Lang-id confusion matrix rebuilt from the same generated marker/script
# expressions as doc_langid (single source of truth) and the per-source
# profile.
ORACLE["langid_confusion"] = f"""
WITH l AS (SELECT doc_id, ' ' || lower(COALESCE(text,'')) || ' ' AS low FROM documents),
s AS (SELECT doc_id, low, {score_sel},
      {script_sel},
      CAST(CASE WHEN trim(low) = '' THEN 0 ELSE len(regexp_split_to_array(trim(low), '\\s+')) END AS BIGINT) AS ntok
      FROM l),
b AS (SELECT *, {best_expr} AS best FROM s),
pred AS (SELECT doc_id,
           CASE {script_whens}
                WHEN best = 0 THEN 'und'
                ELSE {pick} END AS lang_pred
         FROM b),
cells AS (SELECT d.lang AS lang_true, p.lang_pred,
            CAST(count(*) AS BIGINT) AS n
          FROM pred p JOIN documents d ON p.doc_id = d.doc_id
          GROUP BY d.lang, p.lang_pred),
tot AS (SELECT lang_true, lang_pred, n,
          CAST(sum(n) OVER (PARTITION BY lang_true) AS BIGINT)
            AS n_true
        FROM cells)
SELECT lang_true, lang_pred, n, n_true,
       round(CAST(n AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
         AS recall_share
FROM tot"""


def doc_source_profile(spark: SparkSession, sf: str) -> DataFrame:
    return source_profile(load_table(spark, sf, "documents"))


QUERIES["doc_source_profile"] = doc_source_profile
ORACLE["doc_source_profile"] = """WITH pl AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source, lang),
rk AS (SELECT source, lang, n,
         row_number() OVER (PARTITION BY source
           ORDER BY n DESC, lang) AS rn,
         CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
           AS n_langs,
         CAST(sum(chars) OVER (PARTITION BY source) AS BIGINT)
           AS total_chars
       FROM pl)
SELECT source, n_docs, n_langs, total_chars, lang AS top_lang,
       n AS top_lang_docs,
       round(CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS mean_chars
FROM rk WHERE rn = 1"""


def doc_source_ttr(spark: SparkSession, sf: str) -> DataFrame:
    return source_ttr(load_table(spark, sf, "documents"))


QUERIES["doc_source_ttr"] = doc_source_ttr
ORACLE["doc_source_ttr"] = """WITH tok AS (
  SELECT source,
         unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                      '\\s+')) AS term
  FROM documents),
tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       FROM tok WHERE term <> '' GROUP BY source, term),
docs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         FROM documents GROUP BY source),
ag AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
       FROM tc GROUP BY source)
SELECT a.source, d.n_docs, a.n_tokens, a.n_types, a.n_hapax,
       CASE WHEN n_tokens > 0 THEN round(CAST(n_types AS DOUBLE)
         / CAST(n_tokens AS DOUBLE), 6) END AS ttr
FROM ag a JOIN docs d ON a.source = d.source"""


def lang_source_mix(spark: SparkSession, sf: str) -> DataFrame:
    return lang_source_matrix(load_table(spark, sf, "documents"))


QUERIES["lang_source_mix"] = lang_source_mix
ORACLE["lang_source_mix"] = """WITH cell AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source),
m AS (SELECT lang, source, n_docs,
        CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
          AS lang_total,
        CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
          AS source_total,
        CAST(sum(n_docs) OVER () AS BIGINT) AS corpus_total
      FROM cell)
SELECT lang, source, n_docs, lang_total, source_total, corpus_total,
       round(CAST(n_docs AS DOUBLE) * CAST(corpus_total AS DOUBLE)
         / (CAST(lang_total AS DOUBLE)
         * CAST(source_total AS DOUBLE)), 6) AS lift
FROM m"""


def doc_dup_rate_lang(spark: SparkSession, sf: str) -> DataFrame:
    return dup_rate_by_lang(load_table(spark, sf, "documents"))


QUERIES["doc_dup_rate_lang"] = doc_dup_rate_lang
ORACLE["doc_dup_rate_lang"] = """WITH pt AS (
  SELECT lang, COALESCE(text, '') AS t, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, t),
ag AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_distinct
       FROM pt GROUP BY lang)
SELECT lang, n_docs, n_distinct,
       CAST(n_docs - n_distinct AS BIGINT) AS n_dupes,
       round(CAST(n_docs - n_distinct AS DOUBLE)
         / CAST(n_docs AS DOUBLE), 6) AS dup_share
FROM ag"""


def charclass_lang(spark: SparkSession, sf: str) -> DataFrame:
    return charclass_by_lang(load_table(spark, sf, "documents"))


QUERIES["charclass_lang"] = charclass_lang
ORACLE["charclass_lang"] = """WITH base AS (
  SELECT lang, COALESCE(text, '') AS c FROM documents),
per AS (SELECT lang, length(c) AS n,
          length(c) - length(regexp_replace(c, '[A-Za-z]', '', 'g'))
            AS lt,
          length(c) - length(regexp_replace(c, '[0-9]', '', 'g')) AS dg,
          length(c) - length(regexp_replace(c, '\\s', '', 'g')) AS sp
        FROM base),
ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS n_chars,
         CAST(sum(lt) AS BIGINT) AS n_letters,
         CAST(sum(dg) AS BIGINT) AS n_digits,
         CAST(sum(sp) AS BIGINT) AS n_spaces
       FROM per GROUP BY lang)
SELECT lang, n_docs, n_chars, n_letters, n_digits, n_spaces,
       CASE WHEN n_chars > 0 THEN round(CAST(n_letters AS DOUBLE)
         / CAST(n_chars AS DOUBLE), 6) END AS letter_share,
       CASE WHEN n_chars > 0 THEN round(CAST(n_digits AS DOUBLE)
         / CAST(n_chars AS DOUBLE), 6) END AS digit_share,
       CASE WHEN n_chars > 0 THEN round(CAST(n_spaces AS DOUBLE)
         / CAST(n_chars AS DOUBLE), 6) END AS space_share
FROM ag"""


def doc_prefix_dup(spark: SparkSession, sf: str) -> DataFrame:
    return prefix_dup_by_source(load_table(spark, sf, "documents"))


QUERIES["doc_prefix_dup"] = doc_prefix_dup
ORACLE["doc_prefix_dup"] = """WITH pp AS (
  SELECT source, substr(COALESCE(text, ''), 1, 32) AS p,
         CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, p),
ag AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_prefixes
       FROM pp GROUP BY source)
SELECT source, n_docs, n_prefixes,
       CAST(n_docs - n_prefixes AS BIGINT) AS n_prefix_dupes,
       round(CAST(n_docs - n_prefixes AS DOUBLE)
         / CAST(n_docs AS DOUBLE), 6) AS prefix_dup_share
FROM ag"""


def source_lang_entropy_q(spark: SparkSession, sf: str) -> DataFrame:
    return source_lang_entropy(load_table(spark, sf, "documents"))


QUERIES["source_lang_entropy"] = source_lang_entropy_q

_lcols = ",\n           ".join(
    f"CAST(sum(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS n_{lg}"
    for lg in ENTROPY_LANGS
)

_lknown = " + ".join(f"n_{lg}" for lg in ENTROPY_LANGS)

_lterms = " + ".join(
    f"CASE WHEN n_{lg} > 0 THEN CAST(n_{lg} AS DOUBLE)"
    f" * ln(CAST(n_{lg} AS DOUBLE)) ELSE 0.0 END"
    for lg in (*ENTROPY_LANGS, "other")
)

ORACLE["source_lang_entropy"] = f"""WITH a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           {_lcols}
  FROM documents GROUP BY source),
b AS (SELECT a.*, CAST(n_docs - ({_lknown}) AS BIGINT) AS n_other
      FROM a)
SELECT source, n_docs, {', '.join('n_' + lg for lg in ENTROPY_LANGS)},
       n_other,
       round(ln(CAST(n_docs AS DOUBLE)) - ({_lterms})
         / CAST(n_docs AS DOUBLE), 6) AS entropy
FROM b"""


def top_term_lang(spark: SparkSession, sf: str) -> DataFrame:
    return top_term_per_lang(load_table(spark, sf, "documents"))


QUERIES["top_term_lang"] = top_term_lang
ORACLE["top_term_lang"] = """WITH tok AS (
  SELECT lang,
         unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                      '\\s+')) AS term
  FROM documents),
tc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS n_term
       FROM tok WHERE term <> '' GROUP BY lang, term),
rk AS (SELECT lang, term, n_term,
         row_number() OVER (PARTITION BY lang
           ORDER BY n_term DESC, term ASC) AS rn,
         CAST(sum(n_term) OVER (PARTITION BY lang) AS BIGINT)
           AS lang_tokens
       FROM tc)
SELECT lang, term AS top_term, n_term, lang_tokens,
       round(CAST(n_term AS DOUBLE) / CAST(lang_tokens AS DOUBLE), 6)
         AS term_share
FROM rk WHERE rn = 1"""


def doc_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    return quality_gate_by_lang(load_table(spark, sf, "documents"))


QUERIES["doc_quality_gate"] = doc_quality_gate
ORACLE["doc_quality_gate"] = """WITH base AS (
  SELECT lang, COALESCE(text, '') AS c FROM documents),
st AS (SELECT lang,
         CASE WHEN trim(c) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(c), '\\s+')) END
           AS n_tokens,
         length(c) - length(regexp_replace(c, '[A-Za-z]', '', 'g'))
           AS n_alpha,
         length(c) AS n_chars
       FROM base),
ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n_tokens >= 5 AND n_tokens <= 100000
           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
         CAST(sum(CASE WHEN 2 * n_alpha >= n_chars THEN 1 ELSE 0 END)
           AS BIGINT) AS n_pass_alpha,
         CAST(sum(CASE WHEN n_tokens >= 5 AND n_tokens <= 100000
           AND 2 * n_alpha >= n_chars THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_all
       FROM st GROUP BY lang)
SELECT lang, n_docs, n_pass_len, n_pass_alpha, n_pass_all,
       round(CAST(n_pass_len AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS pass_len_share,
       round(CAST(n_pass_all AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS pass_all_share
FROM ag"""


def doc_word_len_hist(spark: SparkSession, sf: str) -> DataFrame:
    return word_len_hist(load_table(spark, sf, "documents"))


QUERIES["doc_word_len_hist"] = doc_word_len_hist
ORACLE["doc_word_len_hist"] = """WITH tok AS (
  SELECT unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                      '\\s+')) AS term
  FROM documents),
wl AS (SELECT CAST(least(length(term), 15) AS INTEGER) AS word_len
       FROM tok WHERE term <> ''),
hist AS (SELECT word_len, CAST(count(*) AS BIGINT) AS n_tokens
         FROM wl GROUP BY word_len),
tot AS (SELECT hist.*, CAST(sum(n_tokens) OVER () AS BIGINT)
          AS total_tokens FROM hist)
SELECT word_len, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
         AS share
FROM tot"""


def doc_cross_source_dup(spark: SparkSession, sf: str) -> DataFrame:
    return cross_source_dup(load_table(spark, sf, "documents"))


QUERIES["doc_cross_source_dup"] = doc_cross_source_dup
ORACLE["doc_cross_source_dup"] = """WITH st AS (
  SELECT source, COALESCE(text, '') AS t FROM documents),
per AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
        FROM st GROUP BY source, t),
ns AS (SELECT t, CAST(count(*) AS BIGINT) AS n_sources
       FROM per GROUP BY t),
j AS (SELECT per.source, per.c, ns.n_sources
      FROM per JOIN ns ON per.t = ns.t),
ag AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n_sources > 1 THEN c ELSE 0 END)
           AS BIGINT) AS n_cross_docs
       FROM j GROUP BY source)
SELECT source, n_docs, n_cross_docs,
       round(CAST(n_cross_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS cross_share
FROM ag"""


def doc_quality_by_len(spark: SparkSession, sf: str) -> DataFrame:
    return quality_by_len_bucket(load_table(spark, sf, "documents"))


QUERIES["doc_quality_by_len"] = doc_quality_by_len
ORACLE["doc_quality_by_len"] = """WITH base AS (
  SELECT COALESCE(text, '') AS c FROM documents),
st AS (SELECT length(c) AS n_chars,
         CASE WHEN trim(c) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(c), '\\s+')) END
           AS n_tokens,
         length(c) - length(regexp_replace(c, '[A-Za-z]', '', 'g'))
           AS n_alpha
       FROM base),
bk AS (SELECT CAST(length(bin(n_chars + 1)) - 1 AS INTEGER)
         AS bucket,
         (n_tokens >= 5 AND n_tokens <= 100000
          AND 2 * n_alpha >= n_chars) AS ok
       FROM st),
ag AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_all
       FROM bk GROUP BY bucket)
SELECT bucket, CAST((1 << bucket) - 1 AS BIGINT) AS lo_chars, n_docs,
       n_pass_all,
       round(CAST(n_pass_all AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS pass_share
FROM ag"""


def trending_terms_1d(spark: SparkSession, sf: str) -> DataFrame:
    return trending_terms_daily(transcripts_from_events(spark, sf))


QUERIES["trending_terms_1d"] = trending_terms_1d
ORACLE["trending_terms_1d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
tok AS (SELECT CAST(ts AS DATE) AS day,
          unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                       '\\s+')) AS term
        FROM t),
per AS (SELECT term, day, CAST(count(*) AS BIGINT) AS n
        FROM tok WHERE term <> '' GROUP BY term, day),
lg AS (SELECT *, lag(n) OVER (PARTITION BY term ORDER BY day) AS prev_n,
         lag(day) OVER (PARTITION BY term ORDER BY day) AS prev_day
       FROM per)
SELECT term, day, n, CAST(prev_n AS BIGINT) AS prev_n,
       round(CAST(n AS DOUBLE) / CAST(prev_n AS DOUBLE), 6) AS ratio
FROM lg
WHERE prev_day = day - 1 AND n >= 5 AND 2 * n >= 3 * prev_n"""


def split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    return split_leakage_audit(load_table(spark, sf, "documents"))


QUERIES["split_leakage"] = split_leakage
ORACLE["split_leakage"] = """WITH s AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substr(md5('split:'
                || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                / 4294967296.0 < 0.8 THEN 'train'
              WHEN CAST(('0x' || substr(md5('split:'
                || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                / 4294967296.0 < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
per_key AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
              CAST(count(DISTINCT split) AS BIGINT) AS n_labels
            FROM s GROUP BY doc_id),
ag AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_val,
         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_test
       FROM s),
ks AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(CASE WHEN n_labels > 1 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_multi_label
       FROM per_key)
SELECT ks.n_keys, ag.n_rows, ag.n_train, ag.n_val, ag.n_test,
       ks.n_multi_label,
       (ag.n_train + ag.n_val + ag.n_test = ag.n_rows) AS complete
FROM ag, ks"""


def oov_rate_1d(spark: SparkSession, sf: str) -> DataFrame:
    return oov_rate_daily(transcripts_from_events(spark, sf))


QUERIES["oov_rate_1d"] = oov_rate_1d
ORACLE["oov_rate_1d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
tok AS (SELECT CAST(ts AS DATE) AS day,
          unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                       '\\s+')) AS term
        FROM t),
per AS (SELECT day, term, CAST(count(*) AS BIGINT) AS n
        FROM tok WHERE term <> '' GROUP BY day, term),
totals AS (SELECT term, CAST(sum(n) AS BIGINT) AS total
           FROM per GROUP BY term),
vocab AS (SELECT term FROM (
            SELECT term, row_number() OVER (ORDER BY total DESC,
              term ASC) AS rk FROM totals) WHERE rk <= 100),
flagged AS (SELECT p.day, p.n,
              CASE WHEN v.term IS NULL THEN p.n ELSE 0 END AS oov_n
            FROM per p LEFT JOIN vocab v ON p.term = v.term),
ag AS (SELECT day, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(oov_n) AS BIGINT) AS n_oov
       FROM flagged GROUP BY day)
SELECT day, n_tokens, n_oov,
       round(CAST(n_oov AS DOUBLE)
         / CAST(n_tokens AS DOUBLE), 6) AS oov_rate
FROM ag"""


def oracle() -> dict[str, str]:
    return ORACLE
