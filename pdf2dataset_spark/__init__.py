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

import sys

if sys.version_info < (3, 11):
    # minipdf's lexer uses possessive quantifiers / atomic groups,
    # which `re` only compiles from 3.11 on
    raise ImportError(
        "pdf2dataset_spark requires Python 3.11 or newer "
        f"(running {sys.version.split()[0]})"
    )

#: public name -> the submodule that defines it. The names load on
#: first use, so a Python worker that imports one submodule (say
#: ``worker``) does not load the session, IO and extraction modules.
_EXPORTS = {
    "get_spark": "session",
    "load_table": "io",
    "load_tables": "io",
    "TABLES": "io",
    "extract": "extraction",
    "extract_text": "extraction",
    "ExtractionPipeline": "extraction",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value

__version__ = "0.1.0"
