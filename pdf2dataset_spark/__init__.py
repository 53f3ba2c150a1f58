"""pdf2dataset_spark — a PySpark-native analytics/ETL engine.

A from-scratch re-expression of the capabilities of
``icaropires/pdf2dataset`` (document → page-grain dataset extraction
with per-row error capture, resume, incremental parquet sinks) as an
idiomatic Spark engine, extended with the relational / LLM-data-
pipeline operator surface described in SURVEY.md §2:

- Tier A: document dataflow (sources, page fan-out, feature UDFs,
  error capture, resume anti-join, chunked parquet sink).
- Tiers B–E: relational core (projection/filter/expressions,
  aggregation, joins, windows/sort/set-ops) — all pure Catalyst.
- Tier F: LLM-pipeline ops (exact + MinHash/SimHash dedup, cosine
  top-k similarity search, text analytics, TF-IDF).
- Tier G: Structured Streaming (tumbling/sliding/session windows,
  watermark, streaming dedup, stateful processing).

Design rules (SURVEY.md §4, BASELINE.json north-star):
- DataFrame/SQL only; Catalyst must see every operator.
- No driver-side collects in operator paths (only explicit
  ``small=True`` / ``toPandas`` terminal actions).
- Python crossings minimized: Arrow-batched UDFs, fused into a
  single ``mapInArrow`` pass for multi-feature extraction.

Reference provenance: /root/reference was EMPTY at build time
(SURVEY.md §0); behavior derives from public knowledge of the
upstream package and the driver's verified contract.
"""

from pdf2dataset_spark.session import get_spark
from pdf2dataset_spark.io import load_table, load_tables, TABLES
from pdf2dataset_spark.extraction import extract, extract_text, ExtractionPipeline

__all__ = [
    "get_spark",
    "load_table",
    "load_tables",
    "TABLES",
    "extract",
    "extract_text",
    "ExtractionPipeline",
]

__version__ = "0.1.0"
