"""In-memory document source (SURVEY.md §2 A2).

Upstream: ``extract({'doc.pdf': b'...', ...})``. Spark-native:
``createDataFrame`` with an explicit (path, content) schema. Only
appropriate for small inputs (the dict already fits in driver
memory); large corpora should land on storage and use
:func:`pdf2dataset_spark.sources.binary_dir.scan_documents`.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: a StructType, not a DDL string: ``createDataFrame`` parses a DDL
#: string through the JVM on every call
_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), True),
    T.StructField("content", T.BinaryType(), True),
])

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

    Ships as a ``pyarrow.Table``, so the driver→JVM transfer is one
    Arrow stream (guide: "Arrow for driver transfers") instead of
    per-row pickling + schema verification, with no pandas hop on the
    way; ``createDataFrame`` takes a table this way whether or not
    the session enables Arrow for pandas. The explicit schema keeps
    path/content typed string/binary even for an empty dict.

    Partitioning is sized from the INPUT BYTES (the in-memory analog
    of ``spark.sql.files.maxPartitionBytes``), capped at the session's
    parallelism — so a laptop-scale dict gets a few full tasks instead
    of core-count near-empty ones, and a larger dict still fans out to
    every core. ``createDataFrame`` spreads the rows over at most
    ``defaultParallelism`` partitions, so a manifest that needs fewer
    slices than that is coalesced to them. Directory corpora take the
    binaryFile source, whose split sizing is governed by the
    file-source confs instead. Callers needing explicit control pass
    ``ExtractionPipeline.num_partitions`` (a repartition downstream of
    this)."""
    pairs = sorted(docs.items())
    table = pa.table({
        "path": pa.array([p for p, _ in pairs], pa.string()),
        "content": pa.array([c for _, c in pairs], pa.binary()),
    })
    df = spark.createDataFrame(table, schema=_SCHEMA)
    total = sum(len(v) for _, v in pairs)
    parallelism = spark.sparkContext.defaultParallelism
    slices = max(1, min(parallelism, -(-total // _TARGET_BYTES_PER_SLICE)))
    if slices < parallelism:
        df = df.coalesce(slices)
    return df
