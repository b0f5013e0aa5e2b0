"""Nested exam hierarchy + union type: schema shape, parquet round-trip,
to_json/from_json parity, structural invariants (SURVEY §1.1/§1.3;
reference app/models/extraction.py:61-129, memo_extraction.py:60-63)."""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.nested import EXAM_DDL, assemble_exam
from pdf_extraction_spark.plans.pipeline import extract_stage


@pytest.fixture(scope="module")
def exam_df(spark):
    from pdf_extraction_spark import fixtures

    pdf = fixtures.transcripts_pandas(n_convs=12, whale_every=0)
    extracted = extract_stage(spark.createDataFrame(pdf))
    return assemble_exam(extracted).localCheckpoint(eager=True)


def test_schema_shape(spark, exam_df):
    from pyspark.sql.types import _parse_datatype_string

    want = _parse_datatype_string(EXAM_DDL)
    got = exam_df.schema["exam"].dataType
    assert got.simpleString() == want.simpleString()


def test_structural_invariants(spark, exam_df):
    rows = exam_df.collect()
    assert any(len(r["exam"]["groups"]) > 0 for r in rows)
    saw_list = saw_split = False
    for r in rows:
        exam = r["exam"]
        total = 0
        for g in exam["groups"]:
            assert g["title"]  # a group is always opened by a heading span
            for q in g["questions"]:
                assert q["q_id"].startswith(f"{g['group_id'] + 1}.")
                assert q["marks"] is not None and q["marks"] >= 0
                ma = q["model_answers"]
                # union invariant: exactly one variant is populated
                if ma["kind"] == "list":
                    assert ma["answers_list"] is not None and ma["answers_split"] is None
                    saw_list = True
                else:
                    assert ma["answers_split"] is not None and ma["answers_list"] is None
                    saw_split = True
                total += q["marks"]
        assert exam["total_marks"] == total
        assert set(exam["processing_metadata"]) == {"classify_method", "route", "status"}
    assert saw_list and saw_split  # both union variants exercised


def test_parquet_roundtrip(spark, exam_df, tmp_path):
    p = str(tmp_path / "exam")
    exam_df.write.parquet(p)
    back = spark.read.parquet(p)
    assert back.schema["exam"].dataType.simpleString() == exam_df.schema["exam"].dataType.simpleString()
    a = {(r["conv_id"], r["turn_idx"]): r["exam"] for r in exam_df.collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["exam"] for r in back.collect()}
    assert a == b


def test_json_roundtrip(spark, exam_df):
    j = exam_df.select("conv_id", "turn_idx", F.to_json("exam").alias("js"))
    back = j.select("conv_id", "turn_idx", F.from_json("js", EXAM_DDL).alias("exam"))
    a = {(r["conv_id"], r["turn_idx"]): r["exam"] for r in exam_df.collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["exam"] for r in back.collect()}
    assert a == b
