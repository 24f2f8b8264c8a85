"""SurveyMonkey pipeline: survey-details + responses JSON -> the five
hst_* tables (reference: monkey_proc.py).

Output contracts match the reference's selects/DDL:
- hst_surveys            (monkey_proc.py:252-284)
- hst_surveys_questions  (monkey_proc.py:294-339)  pages->questions->headings
- hst_surveys_choices    (monkey_proc.py:346-391)  ...->choices (+quiz_options)
- hst_surveys_responses  (monkey_proc.py:401-441)  data->
- hst_surveys_answers    (monkey_proc.py:448-507)  data->pages->questions->answers

The reference reaches deep levels by repeated explode + flat_df with
hand-chosen prefixes; here each level is one explode_into + one flatten
projection. Column names replicate the reference contract exactly,
including its reversed ``choices_questions_answers_weight`` (the prefix
stacking artifact of monkey_proc.py:475).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.casts import to_ts_iso
from ..io import read_json
from ..operators.nested import explode_into, flatten, quote_ident
from . import schemas


def _surveys_preproc(spark: SparkSession, path: str) -> DataFrame:
    """monkey_proc.py:122-145: ISO timestamps, id->survey_id, audit col."""
    raw = read_json(spark, path, schema=schemas.MONKEY_SURVEY)
    return (
        raw.withColumn("date_created", to_ts_iso("date_created"))
        .withColumn("date_modified", to_ts_iso("date_modified"))
        .withColumnRenamed("id", "survey_id")
        .withColumn("survey_id", F.col("survey_id").cast("long"))
        .withColumn("load_datetime", F.current_timestamp())
    )


def monkey_survey_tables(spark: SparkSession, details_path: str) -> dict[str, DataFrame]:
    sdf = _surveys_preproc(spark, details_path).persist()
    out: dict[str, DataFrame] = {}

    out["hst_surveys"] = sdf.selectExpr(*map(quote_ident, [
        "load_datetime", "survey_id", "date_created", "date_modified",
        "folder_id", "language", "page_count", "question_count",
        "response_count", "title",
    ]))

    pages = explode_into(
        sdf, "pages", carry=["survey_id", "load_datetime"], alias="pages"
    )
    pages = flatten(pages, max_depth=1)  # pages_id, pages_position, ..., pages_questions
    qs = explode_into(
        pages,
        "pages_questions",
        carry=["load_datetime", "survey_id", "pages_id"],
        alias="qs",
    )
    qs = flatten(qs, max_depth=1)  # qs_id, qs_position, qs_headings, qs_answers
    headings = explode_into(
        qs,
        "qs_headings",
        carry=["load_datetime", "survey_id", "pages_id", "qs_id", "qs_position"],
        alias="headings",
    )
    headings = flatten(headings, max_depth=1).persist()
    out["hst_surveys_questions"] = headings.select(
        "load_datetime", "survey_id", "pages_id", "qs_id", "qs_position",
        "headings_heading",
    )

    choices = explode_into(
        headings,
        "headings_choices",
        carry=["load_datetime", "survey_id", "pages_id", "qs_id", "qs_position"],
        alias="choices",
    )
    choices = flatten(choices)  # full depth: choices_quiz_options_score
    out["hst_surveys_choices"] = choices.selectExpr(*map(quote_ident, [
        "load_datetime", "survey_id", "pages_id", "qs_id", "qs_position",
        "choices_id", "choices_is_na", "choices_position",
        "choices_quiz_options_score", "choices_text", "choices_visible",
        "choices_weight",
    ]))
    return out


def monkey_response_tables(spark: SparkSession, responses_path: str) -> dict[str, DataFrame]:
    raw = read_json(spark, responses_path, schema=schemas.MONKEY_RESPONSES)
    raw = raw.withColumn("load_datetime", F.current_timestamp())
    resp = explode_into(raw, "data", carry=["load_datetime"], alias="response")
    resp = flatten(resp, max_depth=1).persist()
    out: dict[str, DataFrame] = {}

    out["hst_surveys_responses"] = resp.select(
        "load_datetime", "response_id", "response_survey_id",
        to_ts_iso("response_date_created").alias("response_date_created"),
        to_ts_iso("response_date_modified").alias("response_date_modified"),
        "response_email_address", "response_ip_address",
        "response_first_name", "response_last_name", "response_recipient_id",
        "response_response_status", "response_total_time",
    )

    pages = explode_into(
        resp,
        "response_pages",
        carry=["load_datetime", "response_id", "response_survey_id", "response_recipient_id"],
        alias="pages",
    )
    pages = flatten(pages, max_depth=1)
    qs = explode_into(
        pages,
        "pages_questions",
        carry=[
            "load_datetime", "response_id", "response_survey_id",
            "response_recipient_id", "pages_id",
        ],
        alias="questions",
    )
    qs = flatten(qs, max_depth=1)
    answers = explode_into(
        qs,
        "questions_answers",
        carry=[
            "load_datetime", "response_id", "response_survey_id",
            "response_recipient_id", "pages_id", "questions_id",
        ],
        alias="questions_answers",
    )
    answers = flatten(answers)
    out["hst_surveys_answers"] = answers.selectExpr(
        *map(quote_ident, [
            "load_datetime", "response_id", "response_survey_id",
            "response_recipient_id", "pages_id", "questions_id",
            "questions_answers_choice_id", "questions_answers_row_id",
            "questions_answers_text",
        ]),
        # reference contract name (reversed prefix stack, monkey_proc.py:475)
        "questions_answers_choices_weight AS choices_questions_answers_weight",
    )
    return out


def monkey_tables(
    spark: SparkSession, details_path: str, responses_path: str
) -> dict[str, DataFrame]:
    out = monkey_survey_tables(spark, details_path)
    out.update(monkey_response_tables(spark, responses_path))
    return out
