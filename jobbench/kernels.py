"""Single-core microbench of the extraction kernel, ``extract_batch``.

Each batch holds rows that all take one path through the kernel (plain,
padded, OCR-artifact, HTML, tool-JSON fallback), built from the same
derived rows and the same ``_DIRT`` expression as the job's input. One
more batch with the input's natural mix measures the share of kernel
time spent in ``html_strip.parse_blocks`` and in the canonicalizer.
"""

from __future__ import annotations

import json
import statistics
import time

import pandas as pd

BATCH_ROWS = 4096
REPEATS = 3


def _frame(rows: pd.DataFrame, text, tool="") -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": rows["conv_id"].to_numpy(),
            "turn_idx": rows["turn_idx"].to_numpy(),
            "role": rows["role"].to_numpy(),
            "text": text,
            "tool": tool,
            "ts": rows["ts"].to_numpy(),
        }
    )


def path_batches(rows: pd.DataFrame, n: int = BATCH_ROWS) -> dict[str, pd.DataFrame]:
    """One single-path batch per kernel path, from ``inputs.kernel_rows``."""
    head = rows.head(n)
    by_branch = {b: rows[rows["branch"] == b].head(n) for b in (0, 1, 2)}
    fallback_tool = [
        json.dumps({"name": "ocr", "output": f"Turn {t} of {c}"}, separators=(",", ":"))
        for c, t in zip(head["conv_id"], head["turn_idx"])
    ]
    return {
        "plain": _frame(head, head["raw"].to_numpy()),
        "padded": _frame(by_branch[2], by_branch[2]["dirty"].to_numpy()),
        "ocr": _frame(by_branch[1], by_branch[1]["dirty"].to_numpy()),
        "html": _frame(by_branch[0], by_branch[0]["dirty"].to_numpy()),
        "fallback": _frame(head, "", fallback_tool),
    }


def rows_per_s(batch: pd.DataFrame, repeats: int = REPEATS) -> float:
    """Median rows/s of ``extract_batch`` on one batch, on this core."""
    from janet_spark.extract.udfs import extract_batch

    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        extract_batch(batch)
        times.append(time.perf_counter() - t)
    return len(batch) / statistics.median(times)


def kernel_shares(batch: pd.DataFrame) -> dict[str, float]:
    """Share of one ``extract_batch`` call spent in ``parse_blocks`` and in
    the canonicalizer, timed by wrapping the names the kernel calls."""
    from janet_spark.extract import udfs

    spent = {"parse_blocks": 0.0, "canonicalize": 0.0}
    originals = {
        name: getattr(udfs, name)
        for name in ("parse_blocks", "canonicalize_series", "canonicalize_str")
    }

    def timed(fn, bucket):
        def call(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spent[bucket] += time.perf_counter() - t

        return call

    udfs.parse_blocks = timed(originals["parse_blocks"], "parse_blocks")
    udfs.canonicalize_series = timed(originals["canonicalize_series"], "canonicalize")
    udfs.canonicalize_str = timed(originals["canonicalize_str"], "canonicalize")
    try:
        t = time.perf_counter()
        udfs.extract_batch(batch)
        total = time.perf_counter() - t
    finally:
        for name, fn in originals.items():
            setattr(udfs, name, fn)
    return {k: v / total for k, v in spent.items()}


def microbench(rows: pd.DataFrame) -> dict[str, float]:
    """Per-layer kernel metrics, keyed by their benchmark names."""
    out = {
        f"extract.kernel_{path}_rows_per_s": rows_per_s(batch)
        for path, batch in path_batches(rows).items()
    }
    mixed = rows.head(BATCH_ROWS)
    shares = kernel_shares(_frame(mixed, mixed["dirty"].to_numpy()))
    out["html_strip.parse_blocks_share"] = shares["parse_blocks"]
    out["text_rules.canonicalize_share"] = shares["canonicalize"]
    return out
