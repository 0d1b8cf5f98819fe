"""Annotation readers vs the reference's fixture formats."""

from __future__ import annotations

from aroma_spark.sources.readers import (
    read_breakfast_annotations,
    read_class_list,
    read_multithumos_annotations,
)


def test_breakfast_reader(spark, tmp_path):
    """Format from reference tests/unit/datasets/test_breakfast.py:46-68."""
    d = tmp_path / "ann"
    d.mkdir()
    (d / "P03_cam01_P03_cereals.txt").write_text(
        "1-30 SIL\n31-150 take_bowl\n151-428 pour_cereals\n"
    )
    (d / "P04_cam01_P04_milk.txt").write_text("1-10 SIL\n11-20 pour_milk\n")
    out = (
        read_breakfast_annotations(spark, str(d / "*.txt"))
        .toPandas()
        .sort_values(["person_id", "seq_idx"])
        .reset_index(drop=True)
    )
    assert len(out) == 5
    p3 = out[out.person_id == "P03"]
    assert p3.cooking_activity.unique().tolist() == ["cereals"]
    assert p3.action.tolist() == ["SIL", "take_bowl", "pour_cereals"]
    assert p3.start_time.tolist() == [1.0, 31.0, 151.0]
    assert p3.end_time.tolist() == [30.0, 150.0, 428.0]


def test_multithumos_reader_and_order(spark, tmp_path):
    """Per-action files "<video> <start> <end>"; the broadcast action
    index gives the (start, action_index) tie-break order (reference
    multithumos.py:520-521)."""
    d = tmp_path / "mt"
    d.mkdir()
    (d / "BasketballDunk.txt").write_text("video_test_1 5.0 6.0\nvideo_test_1 1.0 2.0\n")
    (d / "CliffDiving.txt").write_text("video_test_1 5.0 7.0\nvideo_validation_2 0.5 1.0\n")
    idx = {"BasketballDunk": 0, "CliffDiving": 1}
    df = read_multithumos_annotations(spark, str(d / "*.txt"), idx)
    out = df.toPandas().sort_values(["video_id", "start_time", "action_index"])
    v1 = out[out.video_id == "video_test_1"]
    # order: (1.0, 0), (5.0, 0), (5.0, 1) — start asc, action_index tie-break
    assert v1.start_time.tolist() == [1.0, 5.0, 5.0]
    assert v1.action_index.tolist() == [0, 0, 1]


def test_class_list_reader_token_sorted(spark, tmp_path):
    p = tmp_path / "class_list.txt"
    p.write_text("1 Zebra\n2 Apple\n3 Mango\n")
    out = read_class_list(spark, str(p)).toPandas().sort_values("index")
    assert out.token.tolist() == ["Apple", "Mango", "Zebra"]
    assert out["index"].tolist() == [0, 1, 2]
