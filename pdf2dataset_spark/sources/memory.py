"""In-memory document source (SURVEY.md §2 A2).

Upstream: ``extract({'doc.pdf': b'...', ...})``. Spark-native:
``createDataFrame`` with an explicit (path, content) schema. Only
appropriate for small inputs (the dict already fits in driver
memory); large corpora should land on storage and use
:func:`pdf2dataset_spark.sources.binary_dir.scan_documents`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_SCHEMA = "path string, content binary"

#: Target manifest bytes per extraction task. Document parse/extract
#: cost scales with input bytes (~0.3 ms/KB for the pure-Python PDF
#: text path, more with render/OCR features), so ~48 KB keeps each
#: task busy long enough to amortize the fixed cost of a Python task
#: (~70 ms of CPU, ~18 ms of wall at local[4]: the fused pass over
#: 1,000 tiny documents, 16 vs 1 partitions, on a shared 4-vCPU Xeon
#: VM), which otherwise dominates small-corpus runs.
#: Measured on the 128-doc/374 KB bench manifest at 32 cores: 32
#: near-empty tasks 0.35 s vs 8 right-sized tasks 0.17 s, with a
#: broad plateau from 4 to 12 slices.
_TARGET_BYTES_PER_SLICE = 48 << 10


def from_dict(spark: SparkSession, docs: dict[str, bytes]) -> DataFrame:
    """(path, content) manifest from an in-memory dict.

    Ships via a pandas DataFrame so the driver→JVM transfer takes the
    Arrow fast path (guide: "Arrow for driver transfers") instead of
    per-row pickling + schema verification — measured 4.8× faster on
    the 128-document bench manifest (0.31 s → 0.06 s per action).
    The explicit schema keeps path/content typed string/binary even
    for an empty dict; non-Arrow sessions fall back transparently
    inside createDataFrame.

    Partitioning is sized from the INPUT BYTES (the in-memory analog
    of ``spark.sql.files.maxPartitionBytes``), capped at the session's
    parallelism — so a laptop-scale dict gets a few full tasks instead
    of core-count near-empty ones, and a larger dict still fans out to
    every core. Directory corpora take the binaryFile source, whose
    split sizing is governed by the file-source confs instead. Callers
    needing explicit control pass ``ExtractionPipeline.num_partitions``
    (a repartition downstream of this)."""
    pairs = sorted(docs.items())
    # driver-only import: this function never runs on executors, and
    # a module-level pandas import would make every reused Spark
    # python worker pay ~0.4 s just to unpickle extraction closures
    # whose import chain passes through this package
    import pandas as pd

    pdf = pd.DataFrame(pairs, columns=["path", "content"])
    df = spark.createDataFrame(pdf, schema=_SCHEMA)
    total = sum(len(v) for _, v in pairs)
    slices = max(1, min(
        spark.sparkContext.defaultParallelism,
        -(-total // _TARGET_BYTES_PER_SLICE),
    ))
    if slices < df.rdd.getNumPartitions():
        df = df.coalesce(slices)
    return df
