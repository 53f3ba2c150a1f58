"""Typed feature registry + fused single-pass extraction UDF.

Reference semantics (SURVEY.md §1.1, §2 A4–A8, [upstream-H/M];
/root/reference was empty — no file:line citations possible, see
SURVEY.md §0): the upstream's whole customization story is "declare a
typed feature; the engine computes every selected feature for every
(document, page) task, capturing per-row exception tracebacks in an
``error`` column instead of failing the run".

Spark-first re-expression:

- A feature is ``Feature(name, pyarrow_type, fn(page: PageContext) ->
  value)``; its declared **pyarrow type name** maps 1:1 onto a Spark
  ``StructType`` field (schemas.PYARROW_TO_SPARK), so output schema is
  *declared*, never inferred — same philosophy as upstream.
- Document→page fan-out and *all* selected features run in ONE
  ``mapInArrow`` pass (SURVEY §3.2: fuse features to avoid N
  JVM⇄Python Arrow crossings — upstream likewise computes all
  features in one task visit).
- Codec state (PDF renderer / OCR engine) initializes at the start of
  each task, in the iterator-UDF style (SURVEY §2 H3).
- Errors: a document that fails before page splitting (``open`` or
  ``page_count``) emits a single ``page = -1`` row; any later failure,
  a page's layout included, keeps that page's row with ``error`` =
  traceback, and the document's other pages still extract.

At 100 TB: the pass is embarrassingly parallel (no shuffle), input
splits come from the binaryFile source, and Arrow batch size caps
memory when rows carry rendered-image bytes (session.py).
"""

from __future__ import annotations

import traceback
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdf2dataset_spark.schemas import spark_type_for
from pdf2dataset_spark.sources.codecs import DocumentCodec, default_codec
from pdf2dataset_spark.worker import setup_task

ERROR_PAGE = -1  # sentinel page for document-level failures


@dataclass(frozen=True)
class PageContext:
    """What a feature function sees for one (document, page) task."""

    path: str
    page: int  # 1-based
    codec: DocumentCodec
    handle: Any  # codec-specific open-document handle


@dataclass(frozen=True)
class Feature:
    """A typed per-page feature (upstream: task-subclass + decorator)."""

    name: str
    pyarrow_type: str
    fn: Callable[[PageContext], Any]

    @property
    def spark_type(self) -> T.DataType:
        return spark_type_for(self.pyarrow_type)


def feature(name: str, pyarrow_type: str) -> Callable:
    """Decorator mirror of upstream's typed-feature declaration."""

    def deco(fn: Callable[[PageContext], Any]) -> Feature:
        return Feature(name=name, pyarrow_type=pyarrow_type, fn=fn)

    return deco


# ---------------------------------------------------------------------------
# Built-in features (upstream defaults: text, image, ocr)
# ---------------------------------------------------------------------------

text_feature = Feature("text", "string", lambda ctx: ctx.codec.page_text(ctx.handle, ctx.page))
image_feature = Feature("image", "binary", lambda ctx: ctx.codec.page_image(ctx.handle, ctx.page))
ocr_feature = Feature("ocr", "string", lambda ctx: ctx.codec.page_ocr(ctx.handle, ctx.page))
# doc-level metadata, repeated on each of the doc's page rows (the
# handle caches the parse, so this is a dict lookup per row)
title_feature = Feature(
    "title", "string", lambda ctx: ctx.codec.doc_info(ctx.handle).get("Title")
)
author_feature = Feature(
    "author",
    "string",
    lambda ctx: ctx.codec.doc_info(ctx.handle).get("Author"),
)


def _first_embedded_image(ctx: PageContext) -> bytes | None:
    imgs = ctx.codec.page_embedded_images(ctx.handle, ctx.page)
    return imgs[0]["data"] if imgs else None


def _embedded_image_meta(ctx: PageContext) -> str | None:
    import hashlib
    import json

    imgs = ctx.codec.page_embedded_images(ctx.handle, ctx.page)
    if not imgs:
        return None

    def one(e: dict) -> dict:
        d = {
            k: v
            for k, v in e.items()
            if k in ("name", "format", "width", "height",
                     "colorspace", "bits", "decodable")
        }
        sm = e.get("smask")
        if sm is not None:
            # /SMask alpha surfaced as metadata + content hash (the
            # raw alpha plane itself stays off the meta column — a
            # consumer re-reads it via page_embedded_images)
            d["smask"] = {
                "width": sm["width"], "height": sm["height"],
                "bits": sm["bits"], "decodable": sm["decodable"],
                "alpha_sha256": (
                    hashlib.sha256(sm["alpha"]).hexdigest()
                    if sm.get("alpha") is not None else None
                ),
            }
        return d

    return json.dumps([one(e) for e in imgs], sort_keys=True)


# embedded (as-authored) raster assets — distinct from `image`, which
# RENDERS the page; /DCTDecode payloads surface as complete JFIF files
n_images_feature = Feature(
    "n_images",
    "int32",
    lambda ctx: len(ctx.codec.page_embedded_images(ctx.handle, ctx.page)),
)
embedded_image_feature = Feature(
    "embedded_image", "binary", _first_embedded_image
)
embedded_image_meta_feature = Feature(
    "embedded_image_meta", "string", _embedded_image_meta
)

def _word_boxes(ctx: PageContext) -> str | None:
    """Reading-order word boxes (pdftotext -bbox shape) as a JSON
    array of {word, x0, y0, x1, y1} — JSON keeps the page-row schema
    flat; consumers explode it JVM-side with from_json. None for
    codecs without positional text."""
    import json

    boxes = ctx.codec.page_word_boxes(ctx.handle, ctx.page)
    return json.dumps(boxes, sort_keys=True) if boxes else None


word_boxes_feature = Feature("word_boxes", "string", _word_boxes)


def _paragraphs(ctx: PageContext) -> str | None:
    """Layout-aware paragraphs as a JSON array of reflowed strings —
    the chunking unit training pipelines consume. None for codecs
    without positional text."""
    import json

    paras = ctx.codec.page_paragraphs(ctx.handle, ctx.page)
    return json.dumps(paras) if paras else None


paragraphs_feature = Feature("paragraphs", "string", _paragraphs)


def _annotations(ctx: PageContext) -> str | None:
    notes = ctx.codec.page_annotations(ctx.handle, ctx.page)
    return "\n".join(notes) if notes else None


def _outline(ctx: PageContext) -> str | None:
    items = ctx.codec.doc_outline(ctx.handle)
    if not items:
        return None
    return "\n".join("  " * depth + title for depth, title in items)


# annotation text (comments, highlights, form values) per page and the
# document bookmark outline (doc-level, repeated per page row like
# title/author — the handle caches the parse)
def _attachment_names(ctx: PageContext) -> str | None:
    atts = ctx.codec.doc_attachments(ctx.handle)
    return "\n".join(a["name"] for a in atts) if atts else None


def _first_attachment(ctx: PageContext) -> bytes | None:
    atts = ctx.codec.doc_attachments(ctx.handle)
    return atts[0]["data"] if atts else None


# embedded file attachments (doc-level, repeated per page row)
n_attachments_feature = Feature(
    "n_attachments",
    "int32",
    lambda ctx: len(ctx.codec.doc_attachments(ctx.handle)),
)
attachment_names_feature = Feature(
    "attachment_names", "string", _attachment_names
)
attachment_feature = Feature("attachment", "binary", _first_attachment)

def _profile_field(key: str, default=None):
    def get(ctx: PageContext):
        return ctx.codec.doc_profile(ctx.handle).get(key, default)
    return get


# structural document facts (doc-level, repeated per page row):
# corpus facets for curation — web-optimized (linearized), tagged
# (accessibility structure, correlates with clean extraction),
# encrypted, header-vs-catalog version, XMP presence
pdf_version_feature = Feature(
    "pdf_version", "string", _profile_field("version"))
is_linearized_feature = Feature(
    "is_linearized", "bool", _profile_field("linearized"))
is_tagged_feature = Feature(
    "is_tagged", "bool", _profile_field("tagged"))
is_encrypted_feature = Feature(
    "is_encrypted", "bool", _profile_field("encrypted"))
has_xmp_feature = Feature(
    "has_xmp", "bool", _profile_field("has_xmp"))


def _creation_date(ctx: PageContext) -> str | None:
    return ctx.codec.doc_dates(ctx.handle)[0]


def _mod_date(ctx: PageContext) -> str | None:
    return ctx.codec.doc_dates(ctx.handle)[1]


# document timestamps as sortable ISO-8601 strings (/Info D:-dates
# normalized, XMP fallback) — recency filters and dedup tie-breaks
creation_date_feature = Feature("creation_date", "string", _creation_date)
mod_date_feature = Feature("mod_date", "string", _mod_date)


def _body_paragraphs(ctx: PageContext) -> str | None:
    """Like ``paragraphs`` but with /Artifact pagination furniture
    (running headers/footers/page numbers in tagged PDFs) dropped
    before segmentation — the curation-grade body text."""
    import json

    paras = ctx.codec.page_paragraphs(
        ctx.handle, ctx.page, drop_artifacts=True
    )
    return json.dumps(paras) if paras else None


body_paragraphs_feature = Feature(
    "body_paragraphs", "string", _body_paragraphs
)


def _artifact_text_rate(ctx: PageContext) -> float | None:
    return ctx.codec.page_artifact_char_fraction(ctx.handle, ctx.page)


# fraction of the page's characters inside /Artifact marked content
# (tagged-PDF pagination furniture): high values flag header/footer-
# dominated pages
artifact_text_rate_feature = Feature(
    "artifact_text_rate", "float64", _artifact_text_rate
)


def _hidden_text_rate(ctx: PageContext) -> float | None:
    return ctx.codec.page_hidden_char_fraction(ctx.handle, ctx.page)


# fraction of the page's characters in invisible rendering mode
# (Tr 3/7 — the searchable-OCR-layer idiom): ~1.0 flags pages whose
# machine text is OCR output, a first-class curation signal
hidden_text_rate_feature = Feature(
    "hidden_text_rate", "float64", _hidden_text_rate
)

annotations_feature = Feature("annotations", "string", _annotations)
n_annotations_feature = Feature(
    "n_annotations",
    "int32",
    lambda ctx: len(ctx.codec.page_annotations(ctx.handle, ctx.page)),
)
outline_feature = Feature("outline", "string", _outline)

BUILTIN_FEATURES: dict[str, Feature] = {
    f.name: f
    for f in (
        text_feature,
        image_feature,
        ocr_feature,
        title_feature,
        author_feature,
        n_images_feature,
        embedded_image_feature,
        embedded_image_meta_feature,
        word_boxes_feature,
        paragraphs_feature,
        hidden_text_rate_feature,
        creation_date_feature,
        mod_date_feature,
        pdf_version_feature,
        is_linearized_feature,
        is_tagged_feature,
        is_encrypted_feature,
        has_xmp_feature,
        body_paragraphs_feature,
        artifact_text_rate_feature,
        annotations_feature,
        n_annotations_feature,
        outline_feature,
        n_attachments_feature,
        attachment_names_feature,
        attachment_feature,
    )
}


#: built-in features that decode a page's images
IMAGE_FEATURES = frozenset(
    {"image", "ocr", "n_images", "embedded_image", "embedded_image_meta"}
)


def decodes_images(features: list[str | Feature]) -> bool:
    """Whether extracting ``features`` may decode images: any of
    :data:`IMAGE_FEATURES`, or any custom :class:`Feature`."""
    return any(
        f.name in IMAGE_FEATURES or BUILTIN_FEATURES.get(f.name) is not f
        for f in resolve_features(features)
    )


def resolve_features(features: list[str | Feature]) -> list[Feature]:
    out: list[Feature] = []
    for f in features:
        if isinstance(f, Feature):
            out.append(f)
        elif f in BUILTIN_FEATURES:
            out.append(BUILTIN_FEATURES[f])
        else:
            raise KeyError(
                f"unknown feature {f!r}; built-ins: {sorted(BUILTIN_FEATURES)}"
            )
    return out


# Spark type → Arrow type for the flat feature-column types the
# registry admits (schemas.PYARROW_TO_SPARK values). Used to declare
# the mapInArrow batch schema explicitly — Spark requires the returned
# RecordBatch types to match the declared output schema exactly.
_SPARK_TO_ARROW: dict[type, pa.DataType] = {
    T.StringType: pa.string(),
    T.BinaryType: pa.binary(),
    T.BooleanType: pa.bool_(),
    T.ByteType: pa.int8(),
    T.ShortType: pa.int16(),
    T.IntegerType: pa.int32(),
    T.LongType: pa.int64(),
    T.FloatType: pa.float32(),
    T.DoubleType: pa.float64(),
    T.DateType: pa.date32(),
    T.TimestampNTZType: pa.timestamp("us"),
}


def _arrow_type_for(dt: T.DataType) -> pa.DataType:
    try:
        return _SPARK_TO_ARROW[type(dt)]
    except KeyError:  # pragma: no cover - defensive
        raise ValueError(f"unsupported feature Spark type {dt}") from None


def output_schema(features: list[Feature]) -> T.StructType:
    """Core schema (path, page) + declared feature columns + error."""
    fields = [
        T.StructField("path", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
    ]
    fields += [T.StructField(f.name, f.spark_type, True) for f in features]
    fields.append(T.StructField("error", T.StringType(), True))
    return T.StructType(fields)


def extract_features(
    manifest: DataFrame,
    features: list[str | Feature],
    codec: DocumentCodec | None = None,
    page_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Fused fan-out + feature extraction + error capture.

    ``manifest`` must have columns ``path: string`` and
    ``content: binary`` (from either source, SURVEY §2 A1/A2).
    Returns the page-grain DataFrame with the declared schema.

    ``page_range=(lo, hi)`` pushes a page predicate INTO the fan-out
    (SURVEY §4.2 stretch): a page outside the range is never laid
    out or extracted — the operator-level analog of not generating
    unwanted tasks, and far cheaper than filtering after an expensive
    render.
    A Catalyst rule could derive this from a downstream
    ``filter(page <= N)`` automatically; the explicit parameter keeps
    the plan obvious.
    """
    feats = resolve_features(features)
    schema = output_schema(feats)
    codec = codec or default_codec()
    lo, hi = page_range if page_range is not None else (1, None)
    # mapInArrow (not mapInPandas): the input's binary payload column
    # stays an Arrow buffer until sliced per document, and the output
    # batch is assembled column-wise straight into Arrow arrays — no
    # pandas block manager / Series-of-objects round-trip on either
    # side of the boundary (guide §4.1/§4.2).
    arrow_schema = pa.schema(
        [pa.field(f.name, _arrow_type_for(f.dataType), f.nullable)
         for f in schema.fields]
    )
    feat_types = [_arrow_type_for(f.spark_type) for f in feats]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        setup_task()
        # Codec init happens here, at the start of every task (a reused
        # Python worker runs many; iterator-UDF pattern, SURVEY §2 H3).
        codec.init_worker()
        for batch in batches:
            names = batch.schema.names
            paths = batch.column(names.index("path")).to_pylist()
            contents = batch.column(names.index("content")).to_pylist()
            path_col: list[str] = []
            page_col: list[int] = []
            err_col: list[str | None] = []
            feat_cols: list[list[Any]] = [[] for _ in feats]
            for path, content in zip(paths, contents):
                try:
                    handle = codec.open(bytes(content))
                    n_pages = codec.page_count(handle)
                except Exception:
                    path_col.append(path)
                    page_col.append(ERROR_PAGE)
                    err_col.append(traceback.format_exc())
                    for fc in feat_cols:
                        fc.append(None)
                    continue
                last = n_pages if hi is None else min(hi, n_pages)
                for page in range(max(lo, 1), last + 1):
                    path_col.append(path)
                    page_col.append(page)
                    ctx = PageContext(
                        path=path, page=page, codec=codec, handle=handle
                    )
                    # (exception, traceback) pairs: a memoized page
                    # failure re-raises one exception in every feature
                    # that reads it, and gets one traceback
                    errs = []
                    for f, fc in zip(feats, feat_cols):
                        try:
                            fc.append(f.fn(ctx))
                        except Exception as exc:
                            fc.append(None)
                            if all(exc is not e for e, _ in errs):
                                errs.append((exc, traceback.format_exc()))
                    err_col.append(
                        "\n".join(t for _, t in errs) if errs else None)
            arrays = [
                pa.array(path_col, type=pa.string()),
                pa.array(page_col, type=pa.int32()),
                *(pa.array(fc, type=t) for fc, t in zip(feat_cols, feat_types)),
                pa.array(err_col, type=pa.string()),
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return manifest.mapInArrow(run, schema=schema)
