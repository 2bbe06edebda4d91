"""Seeded benchmark inputs for the extraction job.

Every input is built the same way, from nothing but the seed:

1. a documents table in the sf0.1 layout (5,000 docs of 8-100 words),
2. turned into transcripts by ``derive.derived_transcripts``,
3. replicated ``REPLICAS`` times under new ``conv_id``s,
4. plus two heavy-hitter conversations (``HEAVY_TURNS`` turns each, more
   than one reassembly chunk),
5. plus the rows of ``synthetic.make_transcripts(seed=...)``, whose expected
   outputs were written independently of the engine.

The ``mixed`` kind dirties the text with ``scripts/scaling_bench._DIRT``
(1/3 HTML, 1/3 OCR-artifact, 1/3 padded) and turns about one turn in
``FALLBACK_EVERY`` (chosen by a seeded hash) into an empty-text row with a
tool-JSON payload.
The ``plain`` kind has the same conversations and turn count, every text
padded plain.

Each generated row carries a label of the extraction path it must take
(``plain``/``html``/``fallback``/``failed``); the labels never reach the
job, only the label counts are kept for the correctness gate.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_DOCS = 5_000
MIN_WORDS, MAX_WORDS = 8, 100
REPLICAS = 2
HEAVY_TURNS = 5_000
FALLBACK_EVERY = 40
# the extraction map runs over the scan; the scan packs these files by
# size into splits, at least one per core
INPUT_FILES = 16

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window cache index shard bucket commit lineage resume "
    "span block token page notice policy report content"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20

PATHS = ("plain", "html", "fallback", "failed")


def _dirt_sql() -> str:
    """The per-row dirt expression of scripts/scaling_bench.py, loaded from
    that file so both benchmarks dirty text the same way."""
    path = os.path.join(REPO, "scripts", "scaling_bench.py")
    spec = importlib.util.spec_from_file_location("_scaling_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._DIRT


def make_documents(seed: int, n_docs: int = N_DOCS) -> pd.DataFrame:
    """Documents table in the sf0.1 layout (doc_id, text, lang, source,
    n_chars), drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(vocab[words[pos : pos + n]]))
        pos += n
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def golden_path(t: pd.DataFrame, e: pd.DataFrame) -> pd.Series:
    """Extraction path of each ``make_transcripts`` row, read off its
    independently written expectation (rows aligned on conv_id/turn_idx)."""
    html = t["text"].str.contains("<html", regex=False)
    fallback = (t["tool"] != "") & ~html
    path = np.where(~e["ok"], "failed", np.where(fallback, "fallback", np.where(html, "html", "plain")))
    return pd.Series(path, index=t.index)


def golden_frames(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``make_transcripts(seed=...)`` rows with a ``_path`` label, and their
    expected outputs."""
    from janet_spark.synthetic import make_transcripts

    t, e = make_transcripts(seed=seed)
    t = t.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    e = e.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    t["_path"] = golden_path(t, e)
    return t, e


@dataclass
class Input:
    path: str
    kind: str
    n_docs: int
    n_turns: int
    path_counts: dict[str, int]
    digest: str
    golden_expected: pd.DataFrame


# the _DIRT branch of a row: 0 HTML, 1 OCR-artifact, 2 padded
DIRT_BRANCH = "pmod(xxhash64(conv_id, turn_idx), 3)"


def _derived_rows(spark, workdir: str, seed: int, n_docs: int):
    """Derived transcripts of the seeded documents, replicated."""
    from pyspark.sql import functions as F

    from janet_spark.derive import derived_transcripts

    docs_dir = os.path.join(workdir, f"docs_{n_docs}")
    os.makedirs(docs_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(make_documents(seed, n_docs), preserve_index=False),
        os.path.join(docs_dir, "documents.parquet"),
    )
    base = derived_transcripts(spark, docs_dir)
    return base.withColumn(
        "rep", F.explode(F.sequence(F.lit(1), F.lit(REPLICAS)))
    ).select(
        F.concat("conv_id", F.lit("-r"), F.col("rep").cast("string")).alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
    )


def kernel_rows(spark, workdir: str, seed: int, n_docs: int = 1_000) -> pd.DataFrame:
    """Derived rows with their clean text, their _DIRT text and the _DIRT
    branch, for the single-core kernel microbench."""
    from pyspark.sql import functions as F

    return (
        _derived_rows(spark, workdir, seed, n_docs)
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "ts",
            F.col("text").alias("raw"),
            F.expr(_dirt_sql()).alias("dirty"),
            F.expr(DIRT_BRANCH).alias("branch"),
        )
        .toPandas()
    )


def _transcript_rows(spark, workdir: str, seed: int, kind: str, n_docs: int, heavy_turns: int):
    """The labelled generated rows (transcript columns + ``_path``)."""
    from pyspark.sql import functions as F

    from janet_spark.sources import TRANSCRIPT_DDL

    replicated = _derived_rows(spark, workdir, seed, n_docs)
    heavy = spark.range(2 * heavy_turns).select(
        F.concat(F.lit("conv-heavy-"), (F.col("id") % 2).cast("string")).alias("conv_id"),
        (F.col("id") / 2).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit("Heavy turn body with can-\ncelled ﬁnancial ﬂow content "),
            F.col("id").cast("string"),
        ).alias("text"),
        F.lit("").alias("tool"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("ts"),
    )
    rows = replicated.unionByName(heavy)
    if kind == "mixed":
        dirty = rows.withColumn("text", F.expr(_dirt_sql()))
        branch = F.expr(DIRT_BRANCH)
        fallback = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)), F.lit(FALLBACK_EVERY)) == 0
        rows = dirty.select(
            "conv_id",
            "turn_idx",
            "role",
            F.when(fallback, F.lit("")).otherwise(F.col("text")).alias("text"),
            F.when(
                fallback,
                F.to_json(
                    F.struct(F.lit("ocr").alias("name"), F.concat(F.lit("Turn "), F.col("turn_idx").cast("string"), F.lit(" of "), F.col("conv_id")).alias("output"))
                ),
            )
            .otherwise(F.col("tool"))
            .alias("tool"),
            "ts",
            F.when(fallback, F.lit("fallback"))
            .when(branch == 0, F.lit("html"))
            .otherwise(F.lit("plain"))
            .alias("_path"),
        )
    elif kind == "plain":
        rows = rows.select(
            "conv_id",
            "turn_idx",
            "role",
            F.concat(F.lit("   "), F.col("text"), F.lit("  \n ")).alias("text"),
            "tool",
            "ts",
            F.lit("plain").alias("_path"),
        )
    else:
        raise ValueError(f"unknown input kind {kind!r}")

    golden_t, golden_e = golden_frames(seed)
    golden = spark.createDataFrame(
        golden_t, schema=TRANSCRIPT_DDL + ", _path string"
    )
    return rows.unionByName(golden), golden_e


def _hash_sum():
    """Sum of a 64-bit hash over every transcript column: with the row
    count, an order-independent digest of a transcript table."""
    from pyspark.sql import functions as F

    from janet_spark.sources import TRANSCRIPT_DDL

    cols = [c.split()[0] for c in TRANSCRIPT_DDL.split(", ")]
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in cols])
    return F.sum(h.cast("decimal(38,0)")).cast("string")


def build_input(
    spark,
    workdir: str,
    seed: int,
    kind: str,
    n_docs: int = N_DOCS,
    heavy_turns: int = HEAVY_TURNS,
) -> Input:
    """Generate the ``kind`` input for ``seed`` as parquet under ``workdir``
    and return its path, size, label counts and digest."""
    from pyspark.sql import functions as F

    rows, golden_e = _transcript_rows(spark, workdir, seed, kind, n_docs, heavy_turns)
    path = os.path.join(workdir, f"input_{kind}")
    rows.drop("_path").repartition(INPUT_FILES).write.mode("overwrite").parquet(path)
    stats = rows.groupBy("_path").agg(F.count(F.lit(1)).alias("n"), _hash_sum().alias("h")).collect()
    counts = {p: 0 for p in PATHS}
    counts.update({r["_path"]: int(r["n"]) for r in stats})
    n_turns = sum(counts.values())
    hash_sum = sum(int(r["h"]) for r in stats)
    digest = hashlib.sha256(f"{kind}:{n_turns}:{hash_sum}".encode()).hexdigest()[:16]
    return Input(
        path=path,
        kind=kind,
        n_docs=n_docs,
        n_turns=n_turns,
        path_counts=counts,
        digest=digest,
        golden_expected=golden_e,
    )
