"""Annotation readers over on-disk fixtures and audits of the source
tables (null census, freshness, key audits, partition balance).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from aroma_spark.operators.maintenance import (
    freshness_audit,
    id_density_audit,
    null_census,
    partition_balance_audit,
    pk_audit,
)
from aroma_spark.registry import FIXTURE_DIR, Query
from aroma_spark.sources.readers import (
    read_breakfast_annotations,
    read_class_list,
    read_multithumos_annotations,
)
from aroma_spark.sources.transcripts import (
    TRANSCRIPTS_SQL,
    load_table,
    transcripts_from_events,
)

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}

# Deterministic on-disk fixtures for the annotation readers (S2-S4):
# both engines parse the same bytes, so the readers get real oracle rows
# instead of unit-only coverage. Written idempotently by the reader
# queries AND oracle() (whichever the driver calls first). Start times
# strictly increase within each file so line order == start_time order
# and the oracle can reconstruct seq_idx without relying on reader row
# order.
BREAKFAST_FIXTURES = {
    "P03_cam01_cereals.txt": [
        "1.0-30.5 pour_milk",
        "30.5-70.25 stir_cereals",
        "70.25-120.125 sil",
    ],
    "P03_cam01_coffee.txt": [
        "0.5-14.5 take_cup",
        "14.5-99.9 pour_coffee",
    ],
    "P15_webcam02_friedegg.txt": [
        "2.25-18.0 crack_egg",
        "18.0-36.75 fry_egg",
        "36.75-60.5 put_egg2plate",
        "60.5-61.0 sil",
    ],
}

MULTITHUMOS_FIXTURES = {
    "BasketballDunk.txt": [
        "video_test_0000004 3.5 7.25",
        "video_test_0000004 11.0 13.75",
        "video_test_0000903 0.25 2.5",
    ],
    "CliffDiving.txt": [
        "video_test_0000004 20.5 24.125",
        "video_test_0000131 5.0 9.875",
    ],
}

CLASSLIST_FIXTURE = ["7 BasketballDunk", "12 CliffDiving", "45 Diving"]


def _ensure_reader_fixtures() -> str:
    bdir = os.path.join(FIXTURE_DIR, "breakfast")
    mdir = os.path.join(FIXTURE_DIR, "multithumos")
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(mdir, exist_ok=True)
    for name, lines in BREAKFAST_FIXTURES.items():
        with open(os.path.join(bdir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
    for name, lines in MULTITHUMOS_FIXTURES.items():
        with open(os.path.join(mdir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(FIXTURE_DIR, "classlist.txt"), "w") as f:
        f.write("\n".join(CLASSLIST_FIXTURE) + "\n")
    return FIXTURE_DIR


# --- annotation readers S2-S4 over shared on-disk fixtures ---
def read_breakfast(spark: SparkSession, sf: str) -> DataFrame:
    d = _ensure_reader_fixtures()
    return read_breakfast_annotations(spark, f"{d}/breakfast/*.txt")


QUERIES["read_breakfast"] = read_breakfast
ORACLE["read_breakfast"] = f"""
WITH raw AS (
  SELECT column0 AS times, column1 AS action, filename
  FROM read_csv('{FIXTURE_DIR}/breakfast/*.txt', header=false, delim=' ',
                columns={{'column0':'VARCHAR','column1':'VARCHAR'}}, filename=true)
),
p AS (SELECT regexp_extract(filename, '([^/]+)\\.txt$', 1) AS stem, * FROM raw)
SELECT regexp_extract(stem, '^([^_]+)_', 1) AS person_id,
       regexp_extract(stem, '_([^_]+)$', 1) AS cooking_activity,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY filename
         ORDER BY CAST(string_split(times, '-')[1] AS DOUBLE)) - 1 AS INT) AS seq_idx,
       action,
       CAST(string_split(times, '-')[1] AS REAL) AS start_time,
       CAST(string_split(times, '-')[2] AS REAL) AS end_time
FROM p"""


def read_multithumos(spark: SparkSession, sf: str) -> DataFrame:
    d = _ensure_reader_fixtures()
    idx = {a: i for i, a in enumerate(sorted(MULTITHUMOS_FIXTURES))}
    action_index = {k[: -len(".txt")]: v for k, v in idx.items()}
    return read_multithumos_annotations(
        spark, f"{d}/multithumos/*.txt", action_index
    )


QUERIES["read_multithumos"] = read_multithumos
ORACLE["read_multithumos"] = f"""
WITH raw AS (
  SELECT column0 AS video_id, column1 AS s, column2 AS e, filename
  FROM read_csv('{FIXTURE_DIR}/multithumos/*.txt', header=false, delim=' ',
                columns={{'column0':'VARCHAR','column1':'VARCHAR','column2':'VARCHAR'}}, filename=true)
),
p AS (SELECT regexp_extract(filename, '([^/]+)\\.txt$', 1) AS action, * FROM raw),
idx AS (SELECT action, CAST(ROW_NUMBER() OVER (ORDER BY action) - 1 AS INT) AS action_index
        FROM (SELECT DISTINCT action FROM p))
SELECT p.action, p.video_id,
       CAST(p.s AS REAL) AS start_time, CAST(p.e AS REAL) AS end_time,
       idx.action_index
FROM p JOIN idx ON p.action = idx.action"""


def read_classlist(spark: SparkSession, sf: str) -> DataFrame:
    d = _ensure_reader_fixtures()
    return read_class_list(spark, f"{d}/classlist.txt")


QUERIES["read_classlist"] = read_classlist
ORACLE["read_classlist"] = f"""
WITH raw AS (
  SELECT column0 AS id, column1 AS name
  FROM read_csv('{FIXTURE_DIR}/classlist.txt', header=false, delim=' ',
                columns={{'column0':'VARCHAR','column1':'VARCHAR'}})
)
SELECT name AS token,
       CAST(ROW_NUMBER() OVER (ORDER BY name) - 1 AS BIGINT) AS index
FROM raw"""


def null_census_q(spark: SparkSession, sf: str) -> DataFrame:
    return null_census(
        [
            ("events", "props", load_table(spark, sf, "events")),
            ("events", "value", load_table(spark, sf, "events")),
            ("orders", "o_totalprice", load_table(spark, sf, "orders")),
            (
                "customer",
                "c_acctbal",
                load_table(spark, sf, "customer"),
            ),
            ("documents", "text", load_table(spark, sf, "documents")),
            (
                "lineitem",
                "l_shipdate",
                load_table(spark, sf, "lineitem"),
            ),
        ]
    )


QUERIES["null_census"] = null_census_q

_nc = "CAST(count(*) AS BIGINT) AS n_rows,\n" \
    "    CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)" \
    " AS BIGINT) AS n_null"

_ncs = "CASE WHEN n_rows > 0 THEN round(CAST(n_null AS DOUBLE)" \
    " / CAST(n_rows AS DOUBLE), 6) END AS null_share"

_nc_parts = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, '{c}' AS column_name, n_rows,"
    f" n_null, {_ncs} FROM (SELECT {_nc.format(col=c)} FROM {t})"
    for t, c in (
        ("events", "props"),
        ("events", "value"),
        ("orders", "o_totalprice"),
        ("customer", "c_acctbal"),
        ("documents", "text"),
        ("lineitem", "l_shipdate"),
    )
)

ORACLE["null_census"] = _nc_parts


def freshness_audit_q(spark: SparkSession, sf: str) -> DataFrame:
    return freshness_audit(
        [
            ("events", "ts", load_table(spark, sf, "events")),
            ("orders", "o_orderdate", load_table(spark, sf, "orders")),
            (
                "lineitem",
                "l_shipdate",
                load_table(spark, sf, "lineitem"),
            ),
        ]
    )


QUERIES["freshness_audit"] = freshness_audit_q

_fr_parts = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, n_rows, min_ts, max_ts,
       CAST(date_diff('day', CAST(date_trunc('day', min_ts) AS DATE),
         CAST(date_trunc('day', max_ts) AS DATE)) AS BIGINT)
         AS span_days
FROM (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        min({c}) AS min_ts, max({c}) AS max_ts FROM {t})"""
    for t, c in (
        ("events", "ts"),
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
    )
)

ORACLE["freshness_audit"] = _fr_parts


def pk_audit_q(spark: SparkSession, sf: str) -> DataFrame:
    return pk_audit(
        [
            ("events", ["event_id"], load_table(spark, sf, "events")),
            ("orders", ["o_orderkey"], load_table(spark, sf, "orders")),
            (
                "lineitem",
                ["l_orderkey", "l_linenumber"],
                load_table(spark, sf, "lineitem"),
            ),
            (
                "customer",
                ["c_custkey"],
                load_table(spark, sf, "customer"),
            ),
        ]
    )


QUERIES["pk_audit"] = pk_audit_q

_pk_parts = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, '{','.join(ks)}' AS key_cols,
       n_rows, n_keys, CAST(n_rows - n_keys AS BIGINT) AS n_dupes,
       CASE WHEN n_rows > 0 THEN round(CAST(n_rows - n_keys AS DOUBLE)
         / CAST(n_rows AS DOUBLE), 6) END AS dup_share
FROM (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        CAST(count(*) AS BIGINT) AS n_keys
      FROM (SELECT {', '.join(ks)}, CAST(count(*) AS BIGINT) AS c
            FROM {t} GROUP BY {', '.join(ks)}))"""
    for t, ks in (
        ("events", ["event_id"]),
        ("orders", ["o_orderkey"]),
        ("lineitem", ["l_orderkey", "l_linenumber"]),
        ("customer", ["c_custkey"]),
    )
)

ORACLE["pk_audit"] = _pk_parts


def id_density(spark: SparkSession, sf: str) -> DataFrame:
    return id_density_audit(
        [
            ("events", "event_id", load_table(spark, sf, "events")),
            ("orders", "o_orderkey", load_table(spark, sf, "orders")),
            (
                "customer",
                "c_custkey",
                load_table(spark, sf, "customer"),
            ),
            ("part", "p_partkey", load_table(spark, sf, "part")),
        ]
    )


QUERIES["id_density"] = id_density

_id_parts = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, '{c}' AS id_col, n_rows, min_id,
       max_id,
       CASE WHEN max_id >= min_id THEN round(CAST(n_rows AS DOUBLE)
         / CAST(max_id - min_id + 1 AS DOUBLE), 6) END AS density
FROM (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(min({c}) AS BIGINT) AS min_id,
        CAST(max({c}) AS BIGINT) AS max_id FROM {t})"""
    for t, c in (
        ("events", "event_id"),
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
    )
)

ORACLE["id_density"] = _id_parts


def partition_balance(spark: SparkSession, sf: str) -> DataFrame:
    return partition_balance_audit(transcripts_from_events(spark, sf))


QUERIES["partition_balance"] = partition_balance
ORACLE["partition_balance"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
base AS (SELECT CAST(CAST('0x' || substr(md5('part:' || conv_id),
           1, 4) AS INTEGER) % 16 AS INTEGER) AS bucket, conv_id
         FROM t),
ag AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
       FROM base GROUP BY bucket),
tot AS (SELECT ag.*, CAST(sum(n_turns) OVER () AS BIGINT)
          AS total_turns FROM ag)
SELECT bucket, n_turns, n_convs,
       round(CAST(n_turns AS DOUBLE) / CAST(total_turns AS DOUBLE), 6)
         AS share
FROM tot"""


def oracle() -> dict[str, str]:
    _ensure_reader_fixtures()
    return ORACLE
