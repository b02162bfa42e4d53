from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from dataflow_mm_spark.datagen import transcripts
from dataflow_mm_spark.plans import registry as R


def test_datagen_deterministic(spark):
    a = transcripts(spark, n_convs=25, seed=42).orderBy("conv_id", "turn_idx").collect()
    b = transcripts(spark, n_convs=25, seed=42).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    c = transcripts(spark, n_convs=25, seed=7).orderBy("conv_id", "turn_idx").collect()
    assert a != c


def test_datagen_structure(spark, tiny_transcripts, tiny_pdf):
    # mega conversation exists (skew target)
    sizes = tiny_pdf.groupby("conv_id").size()
    assert sizes.max() >= 400 and sizes.median() < 20
    # roles
    assert set(tiny_pdf.role.unique()) <= {"user", "assistant", "tool"}
    # tool rows carry tool names; tool results follow calls
    tools = tiny_pdf[tiny_pdf.role == "tool"]
    assert len(tools) > 0 and tools.tool.notna().all()
    # timestamps are per-conv mostly increasing with occasional disorder
    g = tiny_pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id").ts
    frac_monotone = (g.apply(lambda s: s.is_monotonic_increasing)).mean()
    assert 0.3 < frac_monotone < 1.0  # jitter creates some disorder, not chaos


def test_every_query_analyzes(spark):
    """Cheap analysis-only pass over the whole registry: schemas resolve."""
    for name, fn in R.QUERIES.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert len(df.schema.fields) > 0, name


def test_registry_table():
    """GATED and MEMBERS are the registry: 50 gated rows, unique names that
    never overlap between the tables, and an oracle on every row."""
    gated = [fn.__name__ for fn, _ in R.GATED]
    members = [fn.__name__ for fn, _ in R.MEMBERS]
    assert len(gated) == 50
    assert len(set(gated + members)) == len(gated) + len(members)
    assert not set(gated) & set(members)
    for fn, sql in R.GATED + R.MEMBERS:
        assert isinstance(sql, str) and sql.strip(), fn.__name__
    assert list(R.QUERIES) == list(R.ORACLES) == gated
    assert list(R.MEMBER_QUERIES) == list(R.MEMBER_ORACLES) == members


def test_suite_table():
    """Every union-suite placeholder names a MEMBERS row, and every MEMBERS
    row belongs to exactly one suite (the two hand-written suites are
    listed here)."""
    owners = {
        "docs_text_analysis": [
            "docs_lang_id", "docs_token_stats", "docs_quality_score",
            "docs_fingerprint",
        ],
        "transcripts_contract_suite": [
            "transcripts_role_violations", "transcripts_tool_pairing",
        ],
    }
    assert len(R.SUITES) == 8
    for name, text in R.SUITES.items():
        owners[name] = re.findall(r"\{(\w+)\}", text)
        assert owners[name], name
        assert set(owners[name]) <= set(R.MEMBER_QUERIES), name
    assert set(owners) <= set(R.QUERIES)
    owned = [m for ms in owners.values() for m in ms]
    assert len(R.MEMBERS) == 31
    assert sorted(owned) == sorted(R.MEMBER_QUERIES)


def test_gate_drain_failure_restores_conf_and_removes_work_dir(spark, tmp_path):
    """A failing pipeline leaves the session's shuffle partitions as they
    were, removes the drain's work dir, and keeps a caller-owned fixture."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    fixture = str(tmp_path / "in")
    spark.range(10).write.parquet(fixture)
    seen = {}

    def pipeline(inp, out, ck):
        seen.update(inp=inp, work=os.path.dirname(out),
                    partitions=spark.conf.get(key))
        raise RuntimeError("pipeline failed")

    spark.conf.set(key, "7")
    try:
        with pytest.raises(RuntimeError, match="pipeline failed"):
            R._gate_drain(spark, fixture, pipeline, lambda sink, out: None)
        assert seen["partitions"] == "4"  # 10 rows: the clamp floor
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
    assert seen["inp"] == fixture and os.path.isdir(fixture)
    assert not os.path.exists(seen["work"])


def test_gate_drain_rows_outlive_work_dir(spark):
    """The drained rows stay collectable after the work dir is removed."""
    from dataflow_mm_spark.streaming.jobs import _start_native

    seen = {}

    def pipeline(inp, out, ck):
        seen["work"] = os.path.dirname(out)
        stream = spark.readStream.schema("id long").parquet(inp)
        return _start_native(stream, out, ck, available_now=True), None

    got = R._gate_drain(
        spark, [spark.range(5), spark.range(5, 10)], pipeline,
        lambda _sink, out: spark.read.parquet(out),
    )
    assert not os.path.exists(seen["work"])
    assert sorted(r.id for r in got.collect()) == list(range(10))
