"""Correctness gate, run untimed after every timed operation.

The committed output and its lineage are read back with pyarrow in the
driver, not with Spark, so the gate does not share a reader with the job
it checks. Each check returns a list of failure messages; an empty list
passes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

from inputs import PATHS, Input

# span kind of the first span of a row on each extraction path
_PATH_KIND = {"plain": "plain", "html": "main", "fallback": "ocr", "failed": None}
_OUT_COLS = ["role", "extracted_text", "blocks_kept", "blocks_dropped", "span_count", "ok"]


def read_committed(output_path: str) -> pd.DataFrame:
    from janet_spark.checkpoint import data_dir

    table = ds.dataset(data_dir(output_path), format="parquet", partitioning="hive").to_table()
    return table.to_pandas()


def read_lineage(output_path: str) -> pd.DataFrame:
    from janet_spark.checkpoint import lineage_dir

    return ds.dataset(lineage_dir(output_path), format="parquet").to_table().to_pandas()


def committed_bytes(output_path: str) -> int:
    from janet_spark.checkpoint import data_dir

    total = 0
    for root, _, files in os.walk(data_dir(output_path)):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def _spans(cell) -> list[tuple]:
    return [(int(s["start"]), int(s["end"]), s["kind"]) for s in cell]


def path_counts(out: pd.DataFrame) -> dict[str, int]:
    """Rows per extraction path, read off the first span's kind."""
    by_kind = {k: p for p, k in _PATH_KIND.items()}
    counts = {p: 0 for p in PATHS}
    for cell in out["spans"]:
        kind = cell[0]["kind"] if len(cell) else None
        path = by_kind.get(kind, f"unknown kind {kind}")
        counts[path] = counts.get(path, 0) + 1
    return counts


def check_rows(out: pd.DataFrame, inp: Input) -> list[str]:
    fails = []
    if len(out) != inp.n_turns:
        fails.append(f"committed {len(out)} rows, input has {inp.n_turns}")
    dup = int(out.duplicated(["conv_id", "turn_idx"]).sum())
    if dup:
        fails.append(f"{dup} duplicate (conv_id, turn_idx) rows committed")
    got = path_counts(out)
    if got != inp.path_counts:
        fails.append(f"rows per path {got} != generator labels {inp.path_counts}")
    failed_rows = int((~out["ok"]).sum())
    if failed_rows != inp.path_counts["failed"]:
        fails.append(f"{failed_rows} rows not ok, {inp.path_counts['failed']} labelled failed")
    return fails


def check_lineage(out: pd.DataFrame, lineage: pd.DataFrame, inp: Input) -> list[str]:
    fails = []
    ok = lineage[lineage["status"] == "success"]
    per_bucket = ok.groupby("part_bucket").size()
    repeated = sorted(int(b) for b in per_bucket[per_bucket > 1].index)
    if repeated:
        fails.append(f"buckets with more than one success lineage row: {repeated[:8]}")
    data_buckets = set(int(b) for b in out["part_bucket"].unique())
    lineage_buckets = set(int(b) for b in per_bucket.index)
    if data_buckets != lineage_buckets:
        fails.append(
            f"{len(data_buckets ^ lineage_buckets)} buckets differ between data and lineage"
        )
    if int(ok["n_turns"].sum()) != inp.n_turns:
        fails.append(f"lineage n_turns sum {int(ok['n_turns'].sum())} != input {inp.n_turns}")
    rows = out.groupby("part_bucket").size()
    stated = ok.drop_duplicates("part_bucket").set_index("part_bucket")["n_turns"]
    both = rows.index.intersection(stated.index)
    wrong = int((rows[both] != stated[both]).sum())
    if wrong:
        fails.append(f"{wrong} buckets whose lineage n_turns differs from their rows")
    return fails


def check_golden(out: pd.DataFrame, inp: Input) -> list[str]:
    exp = inp.golden_expected
    got = out[out["conv_id"].isin(set(exp["conv_id"]))]
    m = exp.merge(got, on=["conv_id", "turn_idx"], how="left", suffixes=("", "_got"))
    fails = []
    if len(got) != len(exp) or m["extracted_text_got"].isna().any():
        fails.append(f"golden rows: {len(got)} committed, {len(exp)} expected")
        return fails
    for col in ("extracted_text", "ok", "blocks_kept"):
        bad = int((m[col] != m[f"{col}_got"]).sum())
        if bad:
            fails.append(f"{bad} golden rows differ from the expected {col}")
    return fails


def sample_convs(inp: Input, seed: int, n: int = 24) -> list[str]:
    """A seeded sample of the input's conversations: one heavy hitter, one
    golden conversation and ``n`` derived ones."""
    from inputs import REPLICAS

    rng = np.random.default_rng(seed + 1)
    docs = rng.choice(inp.n_docs, size=n, replace=False)
    reps = rng.integers(1, REPLICAS + 1, size=n)
    derived = [f"conv-{int(d):06d}-r{int(r)}" for d, r in zip(docs, reps)]
    return ["conv-heavy-1", str(inp.golden_expected["conv_id"].iloc[0])] + derived


def check_sample(out: pd.DataFrame, inp: Input, sample: list[str]) -> list[str]:
    """Committed rows of the sampled conversations equal ``extract_batch``
    applied directly to their input rows in pandas."""
    from janet_spark.extract.udfs import extract_batch

    src = (
        ds.dataset(inp.path, format="parquet")
        .to_table(filter=pc.field("conv_id").isin(sample))
        .to_pandas()
    )
    want = extract_batch(src).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got = (
        out[out["conv_id"].isin(set(sample))]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    if len(got) != len(want) or len(want) == 0:
        return [f"sampled conversations: {len(got)} rows committed, {len(want)} in input"]
    fails = []
    if not (got["conv_id"].to_numpy() == want["conv_id"].to_numpy()).all() or not (
        got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()
    ).all():
        return ["sampled conversations: committed keys differ from input keys"]
    for col in _OUT_COLS:
        bad = int((got[col].to_numpy() != want[col].to_numpy()).sum())
        if bad:
            fails.append(f"sampled conversations: {bad} rows differ in {col}")
    bad = sum(_spans(a) != _spans(b) for a, b in zip(got["spans"], want["spans"]))
    if bad:
        fails.append(f"sampled conversations: {bad} rows differ in spans")
    ts_bad = int(
        (pd.to_datetime(got["ts"], utc=True) != pd.to_datetime(want["ts"], utc=True)).sum()
    )
    if ts_bad:
        fails.append(f"sampled conversations: {ts_bad} rows differ in ts")
    return fails


def check_job(output_path: str, inp: Input, sample: list[str]) -> tuple[list[str], pd.DataFrame]:
    """Every check on a committed job output; returns the failures and the
    committed rows (reused by the reassembly check)."""
    out = read_committed(output_path)
    fails = check_rows(out, inp)
    fails += check_lineage(out, read_lineage(output_path), inp)
    fails += check_golden(out, inp)
    fails += check_sample(out, inp, sample)
    return fails, out


def check_resume(summary: dict, prior_committed: list[int], all_buckets: set[int]) -> list[str]:
    """A resumed run skips exactly the buckets committed before it and
    commits the rest."""
    fails = []
    resumed = list(summary["resumed_skipping_buckets"])
    if resumed != sorted(prior_committed):
        fails.append(
            f"resumed_skipping_buckets has {len(resumed)} buckets, "
            f"{len(prior_committed)} were committed before"
        )
    committed = set(summary["buckets_committed"])
    if committed & set(resumed):
        fails.append("a resumed bucket was committed again")
    if committed | set(resumed) != all_buckets:
        fails.append("resumed and committed buckets do not cover the output")
    return fails


def check_reassembly(spark, output_path: str, out: pd.DataFrame, sample: list[str]) -> list[str]:
    """``conv_text`` of the sampled conversations equals their committed
    turns joined in ``turn_idx`` order."""
    from pyspark.sql import functions as F

    from janet_spark.pipeline import read_output
    from janet_spark.reassemble import PAGE_JOIN, reassemble_conversations

    rows = reassemble_conversations(
        read_output(spark, output_path).filter(F.col("conv_id").isin(sample))
    ).collect()
    got = {r["conv_id"]: r for r in rows}
    want = out[out["conv_id"].isin(set(sample))].sort_values(["conv_id", "turn_idx"])
    fails = []
    if set(got) != set(want["conv_id"]):
        return [f"reassembly returned {len(got)} of {want['conv_id'].nunique()} sampled conversations"]
    for conv_id, turns in want.groupby("conv_id", sort=False):
        r = got[conv_id]
        if r["conv_text"] != PAGE_JOIN.join(turns["extracted_text"]):
            fails.append(f"conv_text of {conv_id} is not its turns joined in order")
        if r["n_turns"] != len(turns) or bool(r["all_ok"]) != bool(turns["ok"].all()):
            fails.append(f"rollup of {conv_id} does not match its turns")
    return fails
