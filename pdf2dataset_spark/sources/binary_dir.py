"""Recursive document-directory source (SURVEY.md §2 A1).

Upstream walks the input root for ``*.pdf`` on the driver; the Spark
native equivalent is the ``binaryFile`` data source, which performs
the listing in parallel, splits the file set across executors, and
exposes ``(path, modificationTime, length, content)``. At 100 TB the
listing itself is distributed and the per-file bytes never pass
through the driver.

Task sizing. The scan packs files into partitions largest first,
charging each file its length plus ``spark.sql.files.openCostInBytes``
and closing a partition at about (total charged bytes ÷ parallelism).
Spark's default open cost, 4 MB, models the cost of opening a file
for a byte-bound scan; for document extraction it dwarfs the work,
so a folder of 20 KB PDFs packs ~N/parallelism files per task and
the first task gets all the largest ones. Here the open cost is the
per-document fixed cost of extraction expressed in bytes of page
work that take the same time: parsing a document costs ~1.9 ms
(xref, trailer, page tree) and laying out a page ~1.38 ms for the
~2.8 KB of file it takes (~0.5 ms per KB), so one document's fixed
cost equals ~4 KB of page bytes (:data:`_OPEN_COST_BYTES`; perfbench
``extract_text`` traced layers, shared 4-vCPU Xeon VM). Task sizes
then follow extraction work, not file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf2dataset_spark.io import child_session

#: ``spark.sql.files.openCostInBytes`` of document scans: the
#: per-document parse cost (~1.9 ms) over the layout cost per file
#: byte (~0.5 ms/KB), see the module docstring.
_OPEN_COST_BYTES = 4 << 10

#: Spark reads the open cost from the relation's own session when the
#: scan executes, so it rides on a child session (set-and-restore
#: around ``load`` would not reach the scan).
_SCAN_CONF = {"spark.sql.files.openCostInBytes": str(_OPEN_COST_BYTES)}


def scan_documents(
    spark: SparkSession,
    input_dir: str,
    glob: str = "*.pdf",
    relative_to: str | None = None,
) -> DataFrame:
    """Manifest DataFrame (path, content) for every matching file.

    ``path`` is made relative to ``relative_to`` (default:
    ``input_dir``) to match upstream's relative-path convention. The
    DataFrame belongs to a :func:`~pdf2dataset_spark.io.child_session`
    of ``spark``; ``spark``'s own confs stay as they are.
    """
    base = (relative_to or input_dir).rstrip("/") + "/"
    df = (
        child_session(spark, _SCAN_CONF).read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(input_dir)
    )
    # binaryFile paths are URIs (file:/...); strip scheme + base prefix.
    rel = F.regexp_replace(F.col("path"), r"^[a-z0-9+.-]+:/+", "/")
    rel = F.regexp_replace(rel, "^" + _re_escape(base), "")
    return df.select(rel.alias("path"), F.col("content"))


def _re_escape(s: str) -> str:
    import re

    return re.escape(s)
