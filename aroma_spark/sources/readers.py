"""Annotation-file readers — Spark-first analogs of the reference's
source scans (SURVEY §2.1 S1-S4).

The reference parses per-file with Python line loops
(src/aroma/datasets/breakfast.py:548-594, multithumos.py:434-481,
212-241); here each becomes one declarative ``spark.read.text`` plan:
filename-derived fields via ``input_file_name()`` + ``regexp_extract``
(pushable, parallel over files, no driver loop), line parsing via
``split``/``cast``. Times are float32 to mirror the reference's dtype
(breakfast.py:592-593).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_breakfast_annotations(spark: SparkSession, path_glob: str) -> DataFrame:
    """S2: lines "<start>-<end> <action>"; person/activity from filename.

    Filename convention "<person>_<...>_<activity>.txt" (reference
    stem.split('_',1)[0] / stem.rsplit('_',1)[-1],
    breakfast.py:565-566). Returns (person_id, cooking_activity,
    seq_idx, action, start_time, end_time).
    """
    # wholetext + posexplode makes line order CONTRACTUAL (a plain
    # spark.read.text gives per-split order only, which holds for small
    # files but is not a guarantee once a file splits). Annotation files
    # are KB-sized, so one-task-per-file is the right trade.
    lines = (
        spark.read.text(path_glob, wholetext=True)
        .select(
            F.input_file_name().alias("file"),
            F.posexplode(F.split("value", r"\r?\n")).alias("line_no", "raw"),
        )
        .select("file", "line_no", F.trim("raw").alias("line"))
        .where(F.col("line") != "")
    )
    stem = F.regexp_extract(F.col("file"), r"([^/]+)\.txt$", 1)
    times = F.split(F.element_at(F.split("line", " "), 1), "-")
    from pyspark.sql import Window

    w = Window.partitionBy("file").orderBy("line_no")
    return lines.select(
        F.regexp_extract(stem, r"^([^_]+)_", 1).alias("person_id"),
        F.regexp_extract(stem, r"_([^_]+)$", 1).alias("cooking_activity"),
        (F.row_number().over(w) - 1).cast("int").alias("seq_idx"),
        F.element_at(F.split("line", " "), 2).alias("action"),
        F.element_at(times, 1).cast("float").alias("start_time"),
        F.element_at(times, 2).cast("float").alias("end_time"),
    )


def read_multithumos_annotations(
    spark: SparkSession, path_glob: str, action_index: dict[str, int] | None = None
) -> DataFrame:
    """S3: per-action files of lines "<video_id> <start> <end>".

    The action name comes from the filename stem; the per-action
    constant index (reference: multithumos.py:434-481) is applied via a
    broadcast map join when given.
    """
    lines = (
        spark.read.text(path_glob)
        .select(
            F.input_file_name().alias("file"),
            F.trim(F.col("value")).alias("line"),
        )
        .where(F.col("line") != "")
    )
    parts = F.split("line", " ")
    out = lines.select(
        F.regexp_extract(F.col("file"), r"([^/]+)\.txt$", 1).alias("action"),
        F.element_at(parts, 1).alias("video_id"),
        F.element_at(parts, 2).cast("float").alias("start_time"),
        F.element_at(parts, 3).cast("float").alias("end_time"),
    )
    if action_index is not None:
        dim = spark.createDataFrame(
            list(action_index.items()), "action string, action_index int"
        )
        out = out.join(F.broadcast(dim), "action", "left")
    return out


def read_class_list(spark: SparkSession, path: str) -> DataFrame:
    """S4: "<id> <name>" lines -> token-sorted vocabulary
    (reference sort_by_token, multithumos.py:212-241)."""
    from pyspark.sql import Window

    lines = spark.read.text(path).select(F.trim("value").alias("line")).where(
        F.col("line") != ""
    )
    tok = F.substring_index(F.col("line"), " ", -1)
    w = Window.orderBy("token")
    return (
        lines.select(tok.alias("token"))
        .select("token", (F.row_number().over(w) - 1).cast("long").alias("index"))
    )

