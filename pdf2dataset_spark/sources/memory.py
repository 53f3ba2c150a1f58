"""In-memory document source (SURVEY.md §2 A2).

Upstream: ``extract({'doc.pdf': b'...', ...})``, one Ray task per
document, so the scheduler balances the load as it goes. Spark-native:
``createDataFrame`` with an explicit (path, content) schema, with the
documents packed on the driver into a few tasks of about equal
extraction cost. Only appropriate for small inputs (the dict already
fits in driver memory); large corpora should land on storage and use
:func:`pdf2dataset_spark.sources.binary_dir.scan_documents`.

Cost model. Each document is charged, from the bytes the driver
already holds, the CPU milliseconds the fused extraction pass spends
on it:

- the text path: :data:`_DOC_MS` per document plus :data:`_KB_MS`
  per KB of file (a least-squares fit over the 120 generated documents
  of the perfbench ``extract_text`` corpus, seed 1, ``text`` feature,
  ``process_time`` per document in process on a shared 4-vCPU Xeon
  VM: 0.17 ms + 0.30 ms/KB);
- when the job's features decode images
  (:func:`~pdf2dataset_spark.operators.features.decodes_images`),
  each image XObject's pixels times the weight of its filter
  (:data:`_MS_PER_MPX`).

An image XObject is a stream, and ISO 32000-1 §7.5.7 keeps streams out
of object streams, so its dict (``/Filter``, ``/Width``, ``/Height``)
is plain bytes in the file, even in an encrypted one: one regex
search over the document finds every one.

Bins. The documents go into k bins by LPT (longest processing time
first: heaviest document first, each into the lightest bin), with
k = min(parallelism, documents, ⌈total cost ÷ :data:`_MIN_TASK_MS`⌉),
so a tiny dict still runs as one task. Within a bin, rows stay in
path order. Each bin becomes one Arrow record batch and each batch one
partition; see :func:`from_dict` for why that needs a child session.
"""

from __future__ import annotations

import heapq
import math
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pdf2dataset_spark.io import child_session

#: a StructType, not a DDL string: ``createDataFrame`` parses a DDL
#: string through the JVM on every call
_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), True),
    T.StructField("content", T.BinaryType(), True),
])
_ARROW_SCHEMA = pa.schema([("path", pa.string()), ("content", pa.binary())])

#: Text-path CPU of one document: a fixed term and a term per KB of
#: file (see the module docstring for the fit).
_DOC_MS = 0.17
_KB_MS = 0.30

#: CPU ms per megapixel of an image XObject, by filter: per-page
#: ``process_time`` of the ``extract_scanned`` features (n_images,
#: embedded_image_meta, image → PNG) in process on the perfbench
#: corpus, seeds 1 and 7 averaged, less the text-path charge, over
#: the image's pixels (JPEG 208×120: 316/381; CCITT G4 and JBIG2
#: 180×40: 658/897 and 1022/1160; JPX 128×80: 9128/7619).
_MS_PER_MPX = {
    b"JPX": 8400.0,
    b"JBIG2": 1100.0,
    b"CCITTFax": 780.0,
    b"DCT": 350.0,
}

_IMAGE_FILTER_RE = re.compile(rb"/(JPX|JBIG2|CCITTFax|DCT)Decode\b")
#: a direct integer (an indirect ``N 0 R`` is not charged)
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)\b(?!\s+\d+\s+R\b)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)\b(?!\s+\d+\s+R\b)")

#: Smallest task worth its own partition: the CPU one more task costs
#: the JVM and the Python worker. 16 one-page documents through the
#: ``text`` pass to a noop sink took 132 ms of CPU per job as one task
#: and 180 ms as four, for the same wall time (40 jobs each, local[4],
#: shared 4-vCPU Xeon VM): ~16 ms per extra task.
_MIN_TASK_MS = 16.0

#: ``createDataFrame`` keeps an Arrow table up to this many bytes as a
#: local relation, whose scan re-slices the rows into equal counts; at
#: 0 it ships one partition per record batch.
_SHIP_CONF = {"spark.sql.execution.arrow.localRelationThreshold": "0"}


def doc_cost_ms(content: bytes, decode_images: bool) -> float:
    """Estimated extraction CPU (ms) of one document."""
    ms = _DOC_MS + _KB_MS * len(content) / 1024
    if decode_images:
        for m in _IMAGE_FILTER_RE.finditer(content):
            # the stream's dict: from its `N G obj` header to `stream`
            lo = content.rfind(b"obj", 0, m.start())
            hi = content.find(b"stream", m.end())
            if hi == -1:
                hi = len(content)
            w = _WIDTH_RE.search(content, max(lo, 0), hi)
            h = _HEIGHT_RE.search(content, max(lo, 0), hi)
            if w and h:
                ms += _MS_PER_MPX[m.group(1)] * int(w[1]) * int(h[1]) / 1e6
    return ms


def lpt_bins(costs: list[float], k: int) -> list[list[int]]:
    """Indices of ``costs`` in ``k`` bins by LPT, each bin ascending."""
    bins: list[list[int]] = [[] for _ in range(k)]
    loads = [(0.0, b) for b in range(k)]
    for i in sorted(range(len(costs)), key=lambda i: -costs[i]):
        load, b = heapq.heappop(loads)
        bins[b].append(i)
        heapq.heappush(loads, (load + costs[i], b))
    return [sorted(b) for b in bins]


def from_dict(
    spark: SparkSession, docs: dict[str, bytes], decode_images: bool = True
) -> DataFrame:
    """(path, content) manifest from an in-memory dict, one partition
    per cost-balanced bin (module docstring).

    ``decode_images`` says whether the job's features decode images,
    so image XObjects are charged their decode cost; without it, bins
    follow bytes. ``ExtractionPipeline.manifest`` passes it.

    Ships as a ``pyarrow.Table`` of one record batch per bin, so the
    driver→JVM transfer is one Arrow stream (guide: "Arrow for driver
    transfers") with no pandas hop; ``createDataFrame`` takes a table
    this way whether or not the session enables Arrow for pandas. The
    explicit schema keeps path/content typed string/binary even for an
    empty dict. Up to ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default) Spark keeps the rows as a local relation whose
    scan re-slices them into equal row counts, and above it one task
    per batch. The table is therefore shipped through a
    :func:`~pdf2dataset_spark.io.child_session` with the threshold at
    0: each batch becomes its own partition at any size, and the
    caller's session confs are not touched. Callers needing explicit
    control pass ``ExtractionPipeline.num_partitions`` (a repartition
    downstream of this)."""
    pairs = sorted(docs.items())
    costs = [doc_cost_ms(c, decode_images) for _, c in pairs]
    k = min(
        spark.sparkContext.defaultParallelism,
        len(pairs),
        math.ceil(sum(costs) / _MIN_TASK_MS),
    )
    batches = [
        pa.record_batch(
            [
                pa.array([pairs[i][0] for i in b], pa.string()),
                pa.array([pairs[i][1] for i in b], pa.binary()),
            ],
            schema=_ARROW_SCHEMA,
        )
        for b in lpt_bins(costs, k)
    ]
    table = pa.Table.from_batches(batches, schema=_ARROW_SCHEMA)
    return child_session(spark, _SHIP_CONF).createDataFrame(table, schema=_SCHEMA)
