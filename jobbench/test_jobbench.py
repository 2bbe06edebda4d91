"""Tests of the benchmark itself: seeded inputs, the correctness gate and
the Spark metric parser.

    python3 -m pytest jobbench/test_jobbench.py -q

The gate tests run a small job once, then mutate copies of its output and
require the gate to fail each copy.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join([REPO, HERE, os.environ.get("PYTHONPATH", "")])
os.environ["PYSPARK_PYTHON"] = sys.executable

import checks  # noqa: E402
from inputs import build_input  # noqa: E402
from tracing import Span, Tracer, parse_metric  # noqa: E402

SMALL = {"n_docs": 40, "heavy_turns": 30}


def test_parse_metric_plain_counts_and_units():
    assert parse_metric("392") == 392
    assert parse_metric("1,234,567") == 1234567
    assert parse_metric("23 ms") == pytest.approx(0.023)
    assert parse_metric("5.5 s") == 5.5
    assert parse_metric("1.5 m") == 90.0
    assert parse_metric("17.2 KiB") == pytest.approx(17.2 * 1024)
    assert parse_metric("0.0 B") == 0.0


def test_parse_metric_per_task_form_takes_the_total():
    value = "total (min, med, max (stageId: taskId))\n9.8 s (2.4 s, 2.4 s, 2.5 s (stage 6.0: task 16))"
    assert parse_metric(value) == 9.8
    value = "total (min, med, max (stageId: taskId))\n66.1 KiB (16.4 KiB, 16.5 KiB, 16.7 KiB (stage 0.0: task 3))"
    assert parse_metric(value) == pytest.approx(66.1 * 1024)


def test_parse_metric_rejects_unknown_text():
    with pytest.raises(ValueError):
        parse_metric("n/a")
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


def test_coverage_counts_overlapping_spans_once():
    class NoSpark:
        def setJobDescription(self, _):
            pass

    tracer = Tracer(NoSpark())
    tracer.spans = [
        Span("op", 0.0, 10.0),
        Span("op/a", 1.0, 4.0),
        Span("op/a/b", 2.0, 3.0),
        Span("op/c", 3.5, 6.0),
        Span("other", 6.0, 10.0),
    ]
    assert tracer.coverage("op") == pytest.approx(0.5)


@pytest.fixture(scope="module")
def job(tmp_path_factory):
    from run import start_session, stop_session

    from janet_spark.pipeline import run_job
    from janet_spark.sources import read_transcripts

    root = str(tmp_path_factory.mktemp("jobbench"))
    spark = start_session(root)
    try:
        inp = build_input(spark, os.path.join(root, "a"), 5, "mixed", **SMALL)
        out = os.path.join(root, "out")
        run_job(spark, read_transcripts(spark, inp.path), out, n_buckets=8, write_salt=2)
        yield spark, root, inp, out, checks.sample_convs(inp, 5)
    finally:
        stop_session(spark)


def _gate(out, inp, sample):
    fails, _ = checks.check_job(out, inp, sample)
    return fails


def _copy(root, out, name):
    dst = os.path.join(root, name)
    shutil.copytree(out, dst)
    return dst


def test_same_seed_same_digest_other_seed_other_digest(job):
    spark, root, inp, _, _ = job
    again = build_input(spark, os.path.join(root, "b"), 5, "mixed", **SMALL)
    other = build_input(spark, os.path.join(root, "c"), 6, "mixed", **SMALL)
    assert again.digest == inp.digest
    assert other.digest != inp.digest


def test_gate_passes_the_real_output(job):
    spark, _, inp, out, sample = job
    fails, committed = checks.check_job(out, inp, sample)
    assert fails == []
    assert checks.check_reassembly(spark, out, committed, sample) == []


def test_gate_fails_a_flipped_extracted_text(job):
    _, root, inp, out, sample = job
    bad = _copy(root, out, "flipped")
    data = os.path.join(bad, "data")
    for dirpath, _, files in os.walk(data):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, f)
            table = pq.read_table(path)
            rows = table.column("conv_id").to_pylist()
            hit = next((i for i, c in enumerate(rows) if c in sample), None)
            if hit is None:
                continue
            texts = table.column("extracted_text").to_pylist()
            texts[hit] = texts[hit][::-1] + "x"
            idx = table.schema.get_field_index("extracted_text")
            table = table.set_column(idx, "extracted_text", pa.array(texts, pa.string()))
            pq.write_table(table, path)
            fails = _gate(bad, inp, sample)
            assert any("extracted_text" in f for f in fails), fails
            return
    pytest.fail("no committed file holds a sampled conversation")


def test_gate_fails_a_deleted_bucket(job):
    _, root, inp, out, sample = job
    bad = _copy(root, out, "deleted")
    data = os.path.join(bad, "data")
    bucket = sorted(d for d in os.listdir(data) if d.startswith("part_bucket="))[0]
    shutil.rmtree(os.path.join(data, bucket))
    fails = _gate(bad, inp, sample)
    assert any("rows, input has" in f for f in fails), fails
    assert any("differ between data and lineage" in f for f in fails), fails


def test_gate_fails_a_duplicated_lineage_row(job):
    _, root, inp, out, sample = job
    bad = _copy(root, out, "duplicated")
    lineage = os.path.join(bad, "_lineage")
    first = sorted(f for f in os.listdir(lineage) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(lineage, first), os.path.join(lineage, "copy-" + first))
    fails = _gate(bad, inp, sample)
    assert any("more than one success lineage row" in f for f in fails), fails


def test_resume_check_fails_a_wrong_skip_list():
    summary = {"resumed_skipping_buckets": [0, 1], "buckets_committed": [2, 3]}
    assert checks.check_resume(summary, [0, 1], {0, 1, 2, 3}) == []
    assert checks.check_resume(summary, [0], {0, 1, 2, 3}) != []
    assert checks.check_resume(summary, [0, 1], {0, 1, 2, 3, 4}) != []
