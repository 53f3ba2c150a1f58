"""Typed user-function surface (SURVEY.md §2 tier H).

The reference's entire extension story is "declare a typed feature
method on a task subclass" — a user writes one Python function with a
pyarrow type and the engine wires it in. These wrappers reproduce
that contract over every Spark UDF flavor, always declaring the
result type from the same pyarrow type names the feature registry
uses (schemas.PYARROW_TO_SPARK):

H1 `scalar_udf`      row-at-a-time (last resort, pickled per row)
H2 `vectorized_udf`  pandas Series→Series (Arrow-batched; default)
H3 `iterator_udf`    Iterator[Series]→Iterator[Series] with one-time
                     per-worker init (OCR-engine pattern)
H4 mapInArrow        → operators/features.extract_features
H5 applyInPandas     → operators/asof.py, tier G g6
H6 GROUPED_AGG       → tier C c12
H7 `page_split_udtf` Python UDTF: doc → one row per page
H8 Arrow batch size  → session.RUNTIME_CONF

Error capture (A8): `with_error_capture` turns any feature function
into one returning (value, traceback) — the per-row error contract.
"""

from __future__ import annotations

import traceback
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf2dataset_spark.schemas import spark_type_for


def scalar_udf(fn: Callable[..., Any], pyarrow_type: str):
    """H1 — row-at-a-time UDF with a declared pyarrow result type."""
    return F.udf(fn, spark_type_for(pyarrow_type))


def vectorized_udf(fn: Callable[[pd.Series], pd.Series], pyarrow_type: str):
    """H2 — Arrow-batched Series→Series pandas UDF (the default for
    feature functions; 10-100× over H1)."""
    return F.pandas_udf(fn, returnType=spark_type_for(pyarrow_type))


def iterator_udf(
    make_state: Callable[[], Any],
    fn: Callable[[Any, pd.Series], pd.Series],
    pyarrow_type: str,
):
    """H3 — iterator pandas UDF: `make_state()` runs once per Python
    worker (heavy engine init), `fn(state, batch)` per Arrow batch."""

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        state = make_state()
        for batch in batches:
            yield fn(state, batch)

    return F.pandas_udf(run, returnType=spark_type_for(pyarrow_type))


def with_error_capture(fn: Callable[[Any], Any], pyarrow_type: str):
    """A8 — wrap a per-value feature fn into a UDF returning a
    (value, error) struct; exceptions become row-level tracebacks.

    Arrow-batched pandas UDF: the batch crosses the JVM↔Python
    boundary once; only the per-VALUE application is Python (the
    contract is per-row isolation — one bad value must not poison its
    batch, so values are applied individually inside the batch). The
    fused extraction path (operators/features.py) uses the same
    pattern; `with_error_capture_row` keeps the row-at-a-time H1
    variant for the UDF-surface demo."""
    result_type = T.StructType(
        [
            T.StructField("value", spark_type_for(pyarrow_type)),
            T.StructField("error", T.StringType()),
        ]
    )

    def guarded_batch(s: pd.Series) -> pd.DataFrame:
        values, errors = [], []
        for v in s:
            try:
                values.append(fn(v))
                errors.append(None)
            except Exception:
                values.append(None)
                errors.append(traceback.format_exc())
        return pd.DataFrame({"value": values, "error": errors})

    return F.pandas_udf(guarded_batch, returnType=result_type)


def with_error_capture_row(fn: Callable[[Any], Any], pyarrow_type: str):
    """Row-at-a-time (H1) variant of :func:`with_error_capture` — kept
    as the documented pickled-per-row demo; use the pandas version in
    any hot path."""
    result_type = T.StructType(
        [
            T.StructField("value", spark_type_for(pyarrow_type)),
            T.StructField("error", T.StringType()),
        ]
    )

    def guarded(v: Any):
        try:
            return (fn(v), None)
        except Exception:
            return (None, traceback.format_exc())

    return F.udf(guarded, result_type)


def page_split_udtf():
    """H7 — Python UDTF: (path, content) → one row per page, the
    declarative alternative to the fused mapInArrow fan-out."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="path: string, page: int, text: string")
    class PageSplit:
        def eval(self, path: str, content: bytes):  # noqa: D401
            text = bytes(content).decode("utf-8")
            for i, page in enumerate(text.split("\f"), start=1):
                yield (path, i, page)

    return PageSplit
