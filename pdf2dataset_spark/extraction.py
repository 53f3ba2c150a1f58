"""Top-level ``extract`` API (SURVEY.md §3.1 entry points EP1–EP3).

Upstream surface (public behavior; /root/reference empty, SURVEY §0):

- ``extract(input_dir, out_path, features=..., ocr=..., lang=...)``
  — big-volume mode: incremental gzip-parquet output, resumable.
- ``extract(input_dir, small=True)`` — returns a pandas DataFrame.
- ``extract({'a.pdf': b'...'})`` — in-memory documents.
- ``extract_text(...)`` — text-only convenience.

Engine lifecycle (SURVEY §3.2): manifest (binaryFile scan or
createDataFrame) → resume anti-join vs sink → fused fan-out +
features + error capture (ONE mapInArrow pass) → sink (append
parquet / toPandas). The only driver-side materialization in the
engine is the explicit ``small=True`` path, mirroring upstream.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # annotation-only (PEP 563 strings at runtime):
    # pandas costs ~0.4 s to import and every reused Spark python
    # worker pays it once just to unpickle the mapInArrow closure —
    # the extraction path itself never touches pandas anymore
    import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from pdf2dataset_spark.io import write_parquet_append
from pdf2dataset_spark.operators.features import (
    Feature,
    decodes_images,
    extract_features,
)
from pdf2dataset_spark.operators.resume import load_done, resume_filter
from pdf2dataset_spark.plans.progress import observed
from pdf2dataset_spark.sources import from_dict, scan_documents
from pdf2dataset_spark.sources.codecs import (
    DocumentCodec,
    PdfCodec,
    TextBytesCodec,
    default_codec,
)


@dataclass
class ExtractionPipeline:
    """Configured extraction run (upstream's orchestrator analog)."""

    spark: SparkSession
    features: list[str | Feature] = field(default_factory=lambda: ["text"])
    codec: DocumentCodec | None = None
    glob: str = "*.pdf"
    num_partitions: int | None = None

    def manifest(self, input_data: str | dict[str, bytes]) -> DataFrame:
        if isinstance(input_data, dict):
            df = from_dict(
                self.spark, input_data, decode_images=decodes_images(self.features)
            )
        else:
            df = scan_documents(self.spark, input_data, glob=self.glob)
        if self.num_partitions:
            df = df.repartition(self.num_partitions)
        return df

    def pages(
        self,
        input_data: str | dict[str, bytes],
        resume_from: str | None = None,
        page_range: tuple[int, int] | None = None,
        observe: bool = False,
    ) -> DataFrame:
        """The page-grain result DataFrame (lazy; no action run).

        ``page_range`` pushes a page predicate into the fan-out: an
        out-of-range page is never laid out or extracted (SURVEY §4.2
        stretch).
        ``observe=True`` attaches an Observation named
        ``extract_metrics`` (rows / error rows) populated when the
        DataFrame executes — see :attr:`last_observation`.
        """
        mf = self.manifest(input_data)
        if resume_from is not None:
            # the manifest's own session: a directory manifest lives on
            # a child session, and the anti-join keeps to one session
            done = load_done(mf.sparkSession, resume_from, keys=["path"])
            if done is not None:
                # Document-grain resume: a doc is redone only if any
                # of it is missing; page-grain dedup happens on write.
                mf = resume_filter(mf, done, ["path"])
        out = extract_features(
            mf,
            self.features,
            codec=self.codec or default_codec(),
            page_range=page_range,
        )
        if observe:
            out, self.last_observation = observed(out, "extract_metrics")
        return out

    def run(
        self,
        input_data: str | dict[str, bytes],
        out_path: str | None = None,
        small: bool = False,
    ) -> DataFrame | pd.DataFrame | None:
        if small:
            # one row per (path, page): the order no longer depends on
            # how the manifest spread the documents over tasks
            return self.pages(input_data).toPandas().sort_values(
                ["path", "page"], ignore_index=True
            )
        if out_path is None:
            return self.pages(input_data)
        df = self.pages(input_data, resume_from=out_path)
        write_parquet_append(df, out_path)
        return None


def extract(
    input_data: str | dict[str, bytes],
    out_path: str | None = None,
    *,
    spark: SparkSession | None = None,
    features: list[str | Feature] | None = None,
    ocr: bool = False,
    lang: str = "eng",
    small: bool = False,
    use_pdf_codec: bool = False,
    num_partitions: int | None = None,
    image_format: str | None = None,
    image_size: str | None = None,
    password: str = "",
):
    """Upstream-compatible one-call API.

    ``ocr=True`` appends the ocr feature (upstream ``--ocr``);
    ``lang`` feeds the OCR engine (upstream ``--lang``);
    ``image_format`` / ``image_size`` ('WxH') control the rendered
    page image exactly as upstream's extract kwargs do; ``password``
    opens password-protected PDFs (user or owner password — encrypted
    files with the default empty user password decrypt without it).
    """
    from pdf2dataset_spark.session import get_spark

    spark = spark or get_spark()
    feats: list[str | Feature] = list(features or ["text"])
    if ocr and "ocr" not in feats:
        feats.append("ocr")
    codec: DocumentCodec | None
    if use_pdf_codec:
        # default to png: the built-in pure-stdlib raster path emits
        # it with no native deps (jpeg needs pdf2image/poppler)
        codec = PdfCodec(
            ocr_lang=lang,
            image_format=image_format or "png",
            image_size=image_size,
            password=password,
        )
    elif image_format or image_size:
        codec = TextBytesCodec(image_format=image_format, image_size=image_size)
    else:
        codec = None
    pipe = ExtractionPipeline(
        spark=spark, features=feats, codec=codec, num_partitions=num_partitions
    )
    return pipe.run(input_data, out_path=out_path, small=small)


def extract_text(
    input_data: str | dict[str, bytes], *, spark: SparkSession | None = None, small: bool = True
):
    """Text-only convenience (upstream ``extract_text``)."""
    return extract(input_data, spark=spark, features=["text"], small=small)
