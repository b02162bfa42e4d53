"""Structured-span extraction from model/agent output text.

Generalizes the reference's ``<answer>`` tag extraction
(dataflow/operators/core_vision/eval/general_text_answer_evaluator.py:46-52)
to tool-call / tool-result spans in agent transcripts. All pure Spark SQL
expressions (regexp + from_json) — JVM-side, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANSWER_PATTERN = r"(?s)<answer>\s*(.*?)\s*</answer>"
TOOL_CALL_PATTERN = r"(?s)<tool_call>(.*?)</tool_call>"
TOOL_RESULT_PATTERN = r"(?s)<tool_result>(.*?)</tool_result>"

TOOL_CALL_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("args", T.MapType(T.StringType(), T.StringType())),
    ]
)


def extract_answer(text: Column) -> Column:
    """Text between <answer>...</answer>, trimmed; '' when absent (matches
    reference extract_answer which returns '' on no match)."""
    return F.trim(F.regexp_extract(text, ANSWER_PATTERN, 1))


def extract_tool_calls(text: Column) -> Column:
    """Array of parsed tool-call structs (name, args map) from
    ``<tool_call>{json}</tool_call>`` spans. Unparseable JSON yields a null
    element struct (kept so counts still line up with spans)."""
    raw = F.regexp_extract_all(text, F.lit(TOOL_CALL_PATTERN), F.lit(1))
    return F.transform(raw, lambda s: F.from_json(s, TOOL_CALL_SCHEMA))


def extract_tool_call_names(text: Column) -> Column:
    return F.transform(extract_tool_calls(text), lambda c: c["name"])


def extract_tool_result(text: Column) -> Column:
    return F.regexp_extract(text, TOOL_RESULT_PATTERN, 1)


def parse_qa_blocks(text: Column) -> Column:
    """WikiQARefiner shape (wiki_qa_refiner.py:22-77): parse LLM output with
    a context paragraph and repeated ``Q: .../A: ...`` lines into
    struct(context, qas: array<struct<question,answer>>). Pure Spark:
    regexp_extract_all + arrays_zip. Unpaired trailing Qs are dropped (zip
    truncates to the shorter side)."""
    qs = F.regexp_extract_all(text, F.lit(r"(?m)^Q:\s*(.+?)\s*$"), F.lit(1))
    as_ = F.regexp_extract_all(text, F.lit(r"(?m)^A:\s*(.+?)\s*$"), F.lit(1))
    n = F.least(F.size(qs), F.size(as_))
    qas = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.struct(
            F.element_at(qs, i).alias("question"),
            F.element_at(as_, i).alias("answer"),
        ),
    )
    context = F.trim(F.regexp_extract(text, r"(?s)^(.*?)(?:\nQ:|$)", 1))
    return F.struct(
        context.alias("context"),
        F.when(n >= 1, qas).otherwise(
            F.array().cast("array<struct<question:string,answer:string>>")
        ).alias("qas"),
    )
