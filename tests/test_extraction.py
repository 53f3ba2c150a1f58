"""Extraction-pipeline tests mirroring upstream's style (SURVEY §5.1):
small fixture documents incl. a corrupted one, golden rows sorted by
(path, page), parametrized features, error-row semantics."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf2dataset_spark.extraction import ExtractionPipeline, extract, extract_text
from pdf2dataset_spark.operators.features import (
    ERROR_PAGE,
    Feature,
    extract_features,
    output_schema,
    resolve_features,
)
from pdf2dataset_spark.sources import from_dict
from pdf2dataset_spark.sources.codecs import PdfCodec
from pdf2dataset_spark.sources.minipdf import build_pdf

DOCS = {
    "a.pdf": "page one text\fpage two text".encode(),
    "sub/b.pdf": "only page".encode(),
    "bad.pdf": b"\xff\xfe invalid utf-8 \xff",  # corrupted document
}


def test_small_mode_golden_rows(spark):
    df = extract(DOCS, spark=spark, features=["text"], small=True)
    assert isinstance(df, pd.DataFrame)
    got = df.sort_values(["path", "page"]).reset_index(drop=True)
    ok = got[got["error"].isna()][["path", "page", "text"]]
    assert ok.values.tolist() == [
        ["a.pdf", 1, "page one text"],
        ["a.pdf", 2, "page two text"],
        ["sub/b.pdf", 1, "only page"],
    ]


def test_error_row_kept_with_traceback(spark):
    df = extract(DOCS, spark=spark, small=True)
    bad = df[df["path"] == "bad.pdf"]
    assert len(bad) == 1
    assert bad["page"].iloc[0] == ERROR_PAGE
    assert "UnicodeDecodeError" in bad["error"].iloc[0]
    assert bad["text"].isna().all()


def test_multi_feature_fused_pass(spark):
    df = extract(DOCS, spark=spark, features=["text", "image"], ocr=True, small=True)
    a1 = df[(df["path"] == "a.pdf") & (df["page"] == 1)].iloc[0]
    assert a1["text"] == "page one text"
    assert bytes(a1["image"]) == b"IMG\x00page one text"
    assert a1["ocr"] == "page one text"  # fake OCR = identity


def test_custom_feature_declared_type(spark):
    n_words = Feature("n_words", "int32", lambda ctx: len(ctx.codec.page_text(ctx.handle, ctx.page).split()))
    df = extract(DOCS, spark=spark, features=["text", n_words], small=True)
    a = df[df["path"] == "a.pdf"].sort_values("page")
    assert a["n_words"].tolist() == [3, 3]


def test_declared_schema_matches_feature_types():
    feats = resolve_features(["text", "image"])
    schema = output_schema(feats)
    assert [f.name for f in schema.fields] == ["path", "page", "text", "image", "error"]
    assert schema["image"].dataType.typeName() == "binary"
    assert schema["page"].dataType.typeName() == "integer"


def test_extract_text_convenience(spark):
    df = extract_text({"x.pdf": b"hello world"}, spark=spark)
    assert df["text"].tolist() == ["hello world"]


def test_big_mode_write_and_resume(spark, tmp_path):
    out = str(tmp_path / "out.parquet")
    extract(DOCS, out_path=out, spark=spark)
    first = spark.read.parquet(out)
    assert first.count() == 4  # 3 ok pages + 1 error row
    # Re-run: resume anti-join must skip everything → no new rows.
    extract(DOCS, out_path=out, spark=spark)
    assert spark.read.parquet(out).count() == 4


def test_directory_scan_source(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.pdf").write_bytes(b"pg1\fpg2")
    (tmp_path / "sub" / "c.pdf").write_bytes(b"deep")
    (tmp_path / "ignore.txt").write_bytes(b"nope")
    df = extract(str(tmp_path), spark=spark, small=True)
    assert sorted(df["path"].tolist()) == ["a.pdf", "a.pdf", "sub/c.pdf"]


def test_fanout_via_mapinpandas_schema(spark):
    mf = from_dict(spark, DOCS)
    pages = extract_features(mf, ["text"])
    assert pages.schema["page"].dataType.typeName() == "integer"
    assert pages.filter("error IS NULL").count() == 3


def test_cli_small_mode(spark, tmp_path, capsys):
    """EP1 CLI surface (A13/A14 adjacent): argparse → pipeline."""
    from pdf2dataset_spark.__main__ import main

    (tmp_path / "x.pdf").write_bytes(b"pg1\fpg2")
    rc = main([str(tmp_path), "--small", "--num-cpus", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "pg1" in out and "pg2" in out


def test_cli_big_mode_writes_parquet(spark, tmp_path, capsys):
    from pdf2dataset_spark.__main__ import main

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.pdf").write_bytes(b"one\ftwo\fthree")
    out_path = str(tmp_path / "out.parquet")
    rc = main([str(src), out_path])
    assert rc == 0
    assert "wrote 3 page rows" in capsys.readouterr().out
    assert spark.read.parquet(out_path).count() == 3


def test_cli_password_opens_locked_pdf(spark, tmp_path, capsys):
    from pdf2dataset_spark.__main__ import main
    from pdf2dataset_spark.sources.minipdf import build_pdf

    src = tmp_path / "in"
    src.mkdir()
    (src / "locked.pdf").write_bytes(
        build_pdf(["secret page text"], encrypt="pw", encrypt_rev=3)
    )
    rc = main([str(src), "--small", "--use-pdf-codec", "--password", "pw"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "secret page text" in out


def test_progress_snapshot(spark):
    from pdf2dataset_spark.plans.progress import progress_line, snapshot

    s = snapshot(spark)
    assert set(s) >= {"active_jobs", "active_stages", "tasks_done"}
    assert isinstance(progress_line(spark), str)


def test_page_range_pushdown_into_fanout(spark):
    """SURVEY §4.2 stretch: pages outside the range are never
    extracted (not just filtered after)."""
    from pdf2dataset_spark.extraction import ExtractionPipeline

    docs = {"big.pdf": "\f".join(f"p{i}" for i in range(1, 11)).encode()}
    pipe = ExtractionPipeline(spark=spark, features=["text"])
    got = pipe.pages(docs, page_range=(2, 4)).toPandas()
    assert sorted(got.page.tolist()) == [2, 3, 4]
    assert sorted(got.text.tolist()) == ["p2", "p3", "p4"]


def test_observe_metrics(spark):
    from pdf2dataset_spark.extraction import ExtractionPipeline

    docs = {"a.pdf": b"x\fy", "bad.pdf": b"\xff\xfe"}
    pipe = ExtractionPipeline(spark=spark, features=["text"])
    df = pipe.pages(docs, observe=True)
    df.count()  # trigger execution so the observation fills
    m = pipe.last_observation.get
    assert m["n_rows"] == 3 and m["n_errors"] == 1


def test_image_format_and_size_plumb_to_rendered_bytes(spark):
    """Upstream's extract(image_format=..., image_size='WxH') kwargs:
    the codec must receive them and the rendered page bytes must
    reflect the request (tag-verified with the deterministic codec)."""
    from pdf2dataset_spark.extraction import extract

    out = extract(
        {"doc.pdf": b"page one\fpage two"},
        spark=spark,
        features=["text", "image"],
        image_format="png",
        image_size="200x100",
        small=True,
    )
    imgs = sorted(bytes(b) for b in out.image)
    assert all(b.startswith(b"IMG[png;200x100]\x00") for b in imgs), imgs[:1]
    assert len(imgs) == 2


def test_image_size_parse():
    from pdf2dataset_spark.sources.codecs import parse_image_size

    assert parse_image_size("200x100") == (200, 100)
    assert parse_image_size(None) is None


def test_observed_metrics_ride_along_with_one_action(spark, tmp_path):
    from pdf2dataset_spark.plans.progress import observed

    df = spark.range(1000).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN 'boom' END AS error"
    )
    audited, obs = observed(df)
    audited.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["n_errors"] == 100


def test_observed_counts_zero_errors_on_empty_input(spark):
    from pdf2dataset_spark.plans.progress import observed

    df = spark.range(0).selectExpr("id", "CAST(NULL AS STRING) AS error")
    audited, obs = observed(df)
    assert audited.collect() == []
    assert obs.get == {"n_rows": 0, "n_errors": 0}


def _fused_rows_in_process(docs: dict[str, bytes], features, codec,
                           page_range=None):
    """Run the fused pass's batch function in this process, so a
    test-local codec class never has to reach a Spark worker."""
    import pyarrow as pa

    class _Manifest:
        def mapInArrow(self, fn, schema):
            self.run = fn
            return self

    m = extract_features(_Manifest(), features, codec=codec,
                         page_range=page_range)
    batch = pa.RecordBatch.from_pydict(
        {"path": list(docs), "content": list(docs.values())},
        schema=pa.schema([("path", pa.string()), ("content", pa.binary())]),
    )
    return [r for out in m.run(iter([batch])) for r in out.to_pylist()]


#: features backed by optional ``DocumentCodec`` capabilities
_CAPABILITY_FEATURES = [
    "word_boxes", "paragraphs", "body_paragraphs", "artifact_text_rate",
    "hidden_text_rate", "creation_date", "mod_date",
]


def test_capability_features_are_null_for_text_codec():
    from pdf2dataset_spark.sources.codecs import TextBytesCodec

    rows = _fused_rows_in_process(
        {"a.txt": b"one\ftwo"}, _CAPABILITY_FEATURES, TextBytesCodec()
    )
    assert [r["page"] for r in rows] == [1, 2]
    for r in rows:
        assert r["error"] is None
        assert all(r[name] is None for name in _CAPABILITY_FEATURES)


def test_body_paragraphs_type_error_is_an_error_not_a_retry():
    """A TypeError inside ``page_paragraphs`` must surface as the
    row's error, never fall back to the paragraphs with artifacts."""
    from pdf2dataset_spark.sources.codecs import TextBytesCodec

    class _Codec(TextBytesCodec):
        def page_paragraphs(self, handle, page, drop_artifacts=False):
            if drop_artifacts:
                raise TypeError("artifact filter failed")
            return [handle[page - 1]]

    (row,) = _fused_rows_in_process(
        {"a.txt": b"body"}, ["paragraphs", "body_paragraphs"], _Codec()
    )
    assert row["paragraphs"] == '["body"]'
    assert row["body_paragraphs"] is None
    assert "TypeError: artifact filter failed" in row["error"]


#: text features that derive from a page's interpreted runs
_TEXT_FEATURES = ["text", "paragraphs", "body_paragraphs", "word_boxes",
                  "artifact_text_rate", "hidden_text_rate"]
_LIBTASN1 = "/usr/share/doc/libtasn1-doc/libtasn1.pdf"
_SMI = "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf"


def _read_or_skip(path: str) -> bytes:
    import os

    if not os.path.exists(path):
        pytest.skip(f"{path} not installed")
    with open(path, "rb") as f:
        return f.read()


def test_text_feature_order_does_not_change_values():
    """The text features share one memoized run list per page: no
    feature may alter it for the next. libtasn1.pdf has two pages with
    the TeX \\copyright overlay, whose fold must not touch the
    shared runs."""
    from pdf2dataset_spark.operators.features import PageContext
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pdf = _read_or_skip(_LIBTASN1)
    order = ["word_boxes", "text", "paragraphs", "body_paragraphs"]
    codec = PdfCodec()
    got = []
    for feats in (order, order[::-1]):
        handle = codec.open(pdf)
        got.append([
            {f.name: f.fn(PageContext(path="l.pdf", page=page,
                                      codec=codec, handle=handle))
             for f in resolve_features(feats)}
            for page in range(1, codec.page_count(handle) + 1)
        ])
    assert len(got[0]) == 36
    assert sum("©" in row["text"] for row in got[0]) == 2
    assert got[0] == got[1]


def test_text_features_interpret_each_page_once():
    """``open`` lays out nothing, and the page memo serves every text
    feature, ``text`` included, from one interpreter pass."""
    from unittest import mock

    from pdf2dataset_spark.sources import minipdf
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pdf = _read_or_skip(_SMI)
    with mock.patch.object(
        minipdf, "_text_runs", wraps=minipdf._text_runs
    ) as spy:
        rows = _fused_rows_in_process({"s.pdf": pdf}, _TEXT_FEATURES,
                                      PdfCodec())
    assert len(rows) == 17 and all(r["error"] is None for r in rows)
    assert spy.call_count == len(rows)


def test_paragraph_features_lay_out_each_page_once_after_open():
    """``text``, ``paragraphs`` and ``body_paragraphs`` read one
    memoized line layout per page, and it and ``word_boxes`` read one
    memoized XY-cut; ``open`` lays out nothing."""
    from unittest import mock

    from pdf2dataset_spark.sources import minipdf
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pdf = _read_or_skip(_SMI)
    with mock.patch.object(
        minipdf, "_layout_lines", wraps=minipdf._layout_lines
    ) as spy, mock.patch.object(
        minipdf, "_cut_lines", wraps=minipdf._cut_lines
    ) as cut:
        rows = _fused_rows_in_process({"s.pdf": pdf}, _TEXT_FEATURES,
                                      PdfCodec())
    assert len(rows) == 17 and all(r["error"] is None for r in rows)
    assert spy.call_count == len(rows)
    assert cut.call_count == len(rows)


_PAGE_WORDS = ["one", "two", "three", "four", "five"]


def _interpreted_pages(features, page_range=None):
    """Run ``features`` over a five-page PDF; return the rows and the
    pages whose content stream reached the text interpreter."""
    from unittest import mock

    from pdf2dataset_spark.sources import minipdf
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pdf = minipdf.build_pdf([f"page {w}" for w in _PAGE_WORDS])
    with mock.patch.object(
        minipdf, "_text_runs", wraps=minipdf._text_runs
    ) as spy:
        rows = _fused_rows_in_process({"a.pdf": pdf}, features, PdfCodec(),
                                      page_range=page_range)
    doc = minipdf.PdfDocument(pdf)
    page_of = {doc.page_content(p): i for i, p in enumerate(doc.pages(), 1)}
    return rows, [page_of[c.kwargs["content"]] for c in spy.call_args_list]


def test_pages_outside_page_range_are_never_laid_out():
    rows, seen = _interpreted_pages(["text"], page_range=(2, 3))
    assert [(r["page"], r["text"]) for r in rows] == [
        (2, "page two"), (3, "page three")]
    assert seen == [2, 3]


def test_metadata_only_features_lay_out_nothing():
    rows, seen = _interpreted_pages(["pdf_version", "n_annotations"])
    assert [r["page"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["error"] is None for r in rows)
    assert seen == []


def test_a_page_layout_failure_is_a_page_level_error():
    """A page whose layout raises keeps its row with ``error`` set;
    the document's other pages still extract. Only a failure before
    page splitting makes the single ``page = -1`` row. The failure is
    memoized: the six text features interpret the bad page once, and
    its ``error`` carries one traceback."""
    from unittest import mock

    from pdf2dataset_spark.sources import minipdf
    from pdf2dataset_spark.sources.codecs import PdfCodec

    real = minipdf._text_runs

    def runs(**kw):
        if b"(page two)" in kw["content"]:
            raise ValueError("broken page two")
        return real(**kw)

    pdf = minipdf.build_pdf([f"page {w}" for w in _PAGE_WORDS[:3]])
    with mock.patch.object(minipdf, "_text_runs", side_effect=runs) as spy:
        rows = _fused_rows_in_process({"a.pdf": pdf}, _TEXT_FEATURES,
                                      PdfCodec())
    assert spy.call_count == 3
    assert [r["page"] for r in rows] == [1, 2, 3]
    assert [r["text"] for r in rows] == ["page one", None, "page three"]
    assert rows[0]["error"] is None and rows[2]["error"] is None
    assert all(rows[1][f] is None for f in _TEXT_FEATURES)
    assert rows[1]["error"].count("Traceback (most recent call last)") == 1
    assert "ValueError: broken page two" in rows[1]["error"]


def test_tasks_start_with_the_workers_heap_frozen(spark):
    """Each task of the fused pass freezes its worker's long-lived
    objects first, so the collector (and PySpark's ``gc.collect()``
    between tasks of a reused worker) sees only what the task
    allocated — tens of thousands of objects otherwise."""
    import gc

    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    tracked = Feature("tracked", "int64", lambda ctx: len(gc.get_objects()))
    docs = {f"d{i}.pdf": build_pdf([f"page {i}"]) for i in range(4)}
    pipe = ExtractionPipeline(
        spark=spark, features=["text", tracked], codec=PdfCodec()
    )
    for _ in range(3):  # fresh workers first, then reused ones
        df = pipe.run(docs, small=True)
        assert sorted(df["text"]) == [f"page {i}" for i in range(4)]
        assert df["tracked"].max() < 5_000


def test_directory_resume_adds_no_rows(spark, tmp_path):
    from pdf2dataset_spark.extraction import ExtractionPipeline

    src = tmp_path / "in"
    (src / "sub").mkdir(parents=True)
    (src / "a.pdf").write_bytes(b"pg1\fpg2")
    (src / "sub" / "b.pdf").write_bytes(b"deep")
    (src / "bad.pdf").write_bytes(b"\xff\xfe")
    out = str(tmp_path / "out.parquet")
    pipe = ExtractionPipeline(spark=spark, features=["text"])
    pipe.run(str(src), out_path=out)
    first = spark.read.parquet(out).count()
    assert first == 4  # 3 pages + 1 error row
    pipe.run(str(src), out_path=out)
    assert spark.read.parquet(out).count() == first


def test_resume_probe_skips_the_read_on_a_missing_path(spark, tmp_path, monkeypatch):
    """A first run's output path does not exist: ``load_done`` answers
    None from the path probe without starting a parquet read (whose
    path-not-found error costs ~60 ms of driver time per job)."""
    from pyspark.sql.readwriter import DataFrameReader

    from pdf2dataset_spark.operators.resume import load_done

    calls = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **options):
        calls.append(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert load_done(spark, str(tmp_path / "missing.parquet"), ["path"]) is None
    assert load_done(spark, str(tmp_path / "none-*.parquet"), ["path"]) is None
    assert calls == []


def test_resume_probe_reads_written_and_globbed_output(spark, tmp_path):
    from pdf2dataset_spark.operators.resume import load_done

    out = str(tmp_path / "out.parquet")
    spark.createDataFrame([("a.pdf", 1), ("b.pdf", 2)], "path string, page int") \
        .write.parquet(out)
    for path in (out, "file:" + out, str(tmp_path / "*.parquet")):
        done = load_done(spark, path, ["path"])
        assert sorted(r.path for r in done.collect()) == ["a.pdf", "b.pdf"]
    # a directory that exists but holds no parquet: no keys, no error
    (tmp_path / "empty").mkdir()
    assert load_done(spark, str(tmp_path / "empty"), ["path"]) is None


def _image_doc(filt: str, w: int, h: int, size: int = 64) -> bytes:
    """One page drawing one image XObject; the ``size``-byte payload is
    a stand-in, since the manifest only reads the XObject's dict."""
    xobj = {"filter": filt, "data": b"\x00" * size, "width": w, "height": h}
    return build_pdf([""], images=[xobj],
                     extra_content=b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h))


def _partitions(df) -> dict[int, list[str]]:
    """Partition id -> its paths, in row order."""
    from pyspark.sql import functions as F

    out: dict[int, list[str]] = {}
    for r in df.select(F.spark_partition_id().alias("p"), "path").collect():
        out.setdefault(r.p, []).append(r.path)
    return out


class TestFromDictPartitioning:
    def test_partitions_scale_with_bytes_not_core_count(self, spark):
        from pdf2dataset_spark.sources.memory import _MIN_TASK_MS, doc_cost_ms

        tiny = from_dict(spark, {"a.pdf": b"x" * 100})
        assert tiny.rdd.getNumPartitions() == 1
        # each document costs about half a minimum task
        n_docs = 12
        doc = b"y" * int(_MIN_TASK_MS / 2 / 0.30 * 1024)
        mid = from_dict(spark, {f"d{i}.pdf": doc for i in range(n_docs)})
        expect = min(
            spark.sparkContext.defaultParallelism,
            -(-(n_docs * doc_cost_ms(doc, True)) // _MIN_TASK_MS),
        )
        assert mid.rdd.getNumPartitions() == expect

    def test_large_dict_runs_one_task_per_core(self, spark):
        """Above Spark's 48 MB Arrow local-relation threshold the rows
        still spread over every core (they used to run as one task)."""
        docs = {f"d{i:02d}.pdf": bytes([i]) * (2 << 20) for i in range(30)}
        df = from_dict(spark, docs)
        assert df.rdd.getNumPartitions() == min(
            spark.sparkContext.defaultParallelism, 30
        )

    def test_costly_images_land_in_different_bins(self, spark):
        """Three JPX pages among JPEG and CCITT ones: each JPX page
        costs about ten JPEG pages to decode, so no task gets two of
        them when the features decode images. Text-only features
        weigh bytes alone, and the tasks' bytes stay within one
        document of each other."""
        if spark.sparkContext.defaultParallelism < 3:
            pytest.skip("needs 3 cores")
        docs = {f"j{i}.pdf": _image_doc("/JPXDecode", 128, 80) for i in range(3)}
        docs.update(
            {f"p{i:02d}.pdf": _image_doc("/DCTDecode", 208, 120, 24 << 10)
             for i in range(9)}
        )
        docs.update(
            {f"c{i:02d}.pdf": _image_doc("/CCITTFaxDecode", 180, 40, 8 << 10)
             for i in range(6)}
        )
        jpx = {p for p in docs if p.startswith("j")}
        parts = _partitions(
            ExtractionPipeline(spark=spark, features=["n_images"]).manifest(docs)
        )
        assert sum(len(jpx & set(v)) == 1 for v in parts.values()) == 3
        parts = _partitions(
            ExtractionPipeline(spark=spark, features=["text"]).manifest(docs)
        )
        sizes = [sum(len(docs[p]) for p in v) for v in parts.values()]
        assert len(parts) > 1
        assert max(sizes) - min(sizes) <= max(len(v) for v in docs.values())

    def test_rows_equal_the_dict_each_task_in_path_order(self, spark):
        docs = {
            f"d{i:02d}.pdf": bytes([i]) * ((i * 7919) % 40 + 1) * 1024
            for i in range(24)
        }
        df = from_dict(spark, docs)
        rows = [(r.path, bytes(r.content)) for r in df.collect()]
        assert sorted(rows) == sorted(docs.items())
        for paths in _partitions(df).values():
            assert paths == sorted(paths)

    def test_image_cost_is_read_from_the_xobject_dict(self):
        from pdf2dataset_spark.sources.memory import _MS_PER_MPX, doc_cost_ms

        plain = build_pdf([""])
        jpx = _image_doc("/JPXDecode", 1000, 500)
        assert doc_cost_ms(jpx, True) - doc_cost_ms(jpx, False) == pytest.approx(
            _MS_PER_MPX[b"JPX"] / 2
        )
        assert doc_cost_ms(plain, True) == doc_cost_ms(plain, False)
        # a filter array and an indirect /Height (not charged)
        chained = jpx.replace(b"/Filter /JPXDecode", b"/Filter [/JPXDecode]")
        assert doc_cost_ms(chained, True) > doc_cost_ms(chained, False)
        indirect = jpx.replace(b"/Height 500", b"/Height 9 0 R")
        assert doc_cost_ms(indirect, True) == doc_cost_ms(indirect, False)

    def test_schema_and_rows_survive_arrow_ship(self, spark):
        payload = b"\x00\xff\x89PNG binary"
        df = from_dict(spark, {"z.bin": payload, "a.bin": b"first"})
        assert df.schema.simpleString() == "struct<path:string,content:binary>"
        rows = df.orderBy("path").collect()
        assert [r.path for r in rows] == ["a.bin", "z.bin"]
        assert bytes(rows[1].content) == payload

    def test_schema_constant_equals_its_ddl(self, spark):
        """The StructType constant is the schema the DDL string
        ``path string, content binary`` parses to, nullability
        included."""
        from pdf2dataset_spark.sources.memory import _SCHEMA

        ddl = spark.createDataFrame([], "path string, content binary")
        assert _SCHEMA == ddl.schema
        assert from_dict(spark, {"a.pdf": b"x"}).schema == ddl.schema

    def test_empty_dict(self, spark):
        df = from_dict(spark, {})
        assert df.count() == 0
        assert df.schema.simpleString() == "struct<path:string,content:binary>"

    def test_arrow_disabled_session_gives_the_same_manifest(self, spark):
        off = spark.newSession()
        off.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
        docs = {f"d{i}.pdf": bytes([i]) * (16 << 10) for i in range(9)}
        docs["e.pdf"] = b""
        got = [from_dict(s, docs) for s in (spark, off)]
        assert got[0].schema == got[1].schema
        assert got[0].rdd.getNumPartitions() == got[1].rdd.getNumPartitions()
        rows = [
            [(r.path, bytes(r.content)) for r in df.orderBy("path").collect()]
            for df in got
        ]
        assert rows[0] == rows[1] == sorted(docs.items())

    def test_small_frame_is_in_path_page_order(self, spark):
        """The largest document is the first task's first row, yet
        ``small=True`` returns rows by (path, page)."""
        docs = {
            "a.pdf": build_pdf(["a one"]),
            "b.pdf": b"\xff\xfe not a pdf",
            "m.pdf": build_pdf(["m one", "m two"]),
            "z.pdf": build_pdf([f"z page {i} " + "word " * 400 for i in range(1, 9)]),
        }
        pdf = extract(docs, spark=spark, small=True, use_pdf_codec=True)
        got = list(zip(pdf["path"], pdf["page"]))
        assert got == sorted(got)
        assert got[:4] == [("a.pdf", 1), ("b.pdf", -1), ("m.pdf", 1), ("m.pdf", 2)]
        assert list(pdf.index) == list(range(len(pdf)))


def test_directory_scan_balances_partitions_by_bytes(spark, tmp_path):
    """A few large documents among many small ones: each scan task
    gets about an equal share of the bytes, instead of the first task
    getting every large file (Spark's 4 MB default open cost packs by
    file count), and the caller's session keeps its own open cost."""
    from pyspark.sql import functions as F

    from pdf2dataset_spark.sources import scan_documents

    par = spark.sparkContext.defaultParallelism
    src = tmp_path / "skewed"
    src.mkdir()
    sizes = [96 << 10] * 3 + [16 << 10] * (8 * par)
    for i, n in enumerate(sizes):
        (src / f"d{i:03d}.pdf").write_bytes(b"x" * n)
    key = "spark.sql.files.openCostInBytes"
    before = spark.conf.get(key)
    mf = scan_documents(spark, str(src))
    per_part = (
        mf.select(F.spark_partition_id().alias("p"), F.length("content").alias("n"))
        .groupBy("p")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    assert sum(r.n for r in per_part) == sum(sizes)
    assert max(r.n for r in per_part) <= 1.3 * sum(sizes) / par
    assert spark.conf.get(key) == before


def test_zip_rereads_skip_unchanged_archives(tmp_path):
    import importlib
    import os
    import sys
    import zipfile

    from pdf2dataset_spark.worker import skip_unchanged_zip_rereads

    archive = str(tmp_path / "guarded.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as zf:
            for name, src in modules.items():
                zf.writestr(f"{name}.py", src)

    write(zg_one="X = 1\n")
    sys.path.insert(0, archive)
    try:
        importlib.import_module("zg_one")
        skip_unchanged_zip_rereads()
        zi = sys.path_importer_cache[archive]
        files = zi._files
        importlib.invalidate_caches()
        assert zi._files is files  # unchanged archive: no re-read
        write(zg_one="X = 1\n", zg_two="Y = 2\n")  # new size
        importlib.invalidate_caches()
        assert zi._files is not files
        assert importlib.import_module("zg_two").Y == 2
        files = zi._files
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # new mtime
        importlib.invalidate_caches()
        assert zi._files is not files
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zg_one", None)
        sys.modules.pop("zg_two", None)


def test_import_names_the_python_floor():
    """On a Python older than 3.11 the package import fails with an
    ImportError naming 3.11, not with minipdf's regex compile error."""
    import os
    import subprocess
    import sys

    code = (
        "import sys; sys.version_info = (3, 10, 12, 'final', 0)\n"
        "try:\n"
        "    import pdf2dataset_spark\n"
        "except ImportError as e:\n"
        "    print(e)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, check=True,
    ).stdout
    assert "requires Python 3.11 or newer" in out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestArrowExtractionPass:
    """The fused fan-out runs as ONE MapInArrow node over the
    manifest — no pandas conversion node, no exchange, and the
    Arrow-shipped manifest plans as the scan of its Arrow RDD."""

    def test_plan_shape(self, spark):
        pipe = ExtractionPipeline(
            spark=spark, features=["text"], codec=PdfCodec()
        )
        docs = {"a.pdf": build_pdf(["page one", "page two"])}
        plan = _plan(pipe.pages(docs))
        assert "MapInArrow" in plan
        assert "MapInPandas" not in plan
        assert "Exchange" not in plan
        # the memory source keeps the Arrow driver-ship path (one
        # record batch per partition, an RDD Spark names "arrow"), not
        # a pickled RDD scan
        assert "Scan ExistingRDD arrow[" in plan

    def test_rows_and_error_capture(self, spark):
        docs = {
            "a.pdf": build_pdf(["alpha", "beta"]),
            "bad.pdf": b"\xff\xfenot a pdf",
        }
        pdf = extract(docs, spark=spark, small=True, use_pdf_codec=True)
        rows = {
            (r.path, r.page): (r.text, r.error)
            for r in spark.createDataFrame(pdf).collect()
        }
        assert rows[("a.pdf", 1)][0] == "alpha"
        assert rows[("a.pdf", 2)][0] == "beta"
        assert rows[("bad.pdf", -1)][0] is None
        assert "not a PDF" in rows[("bad.pdf", -1)][1]

    def test_typed_feature_columns_roundtrip(self, spark):
        """int32 / bool / float64 / binary feature values survive the
        Arrow batch assembly with their declared Spark types."""
        docs = {"a.pdf": build_pdf(["only page"])}
        df = ExtractionPipeline(
            spark=spark,
            features=[
                "text", "n_images", "is_tagged", "artifact_text_rate",
                "embedded_image",
            ],
            codec=PdfCodec(),
        ).pages(docs)
        fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert fields["n_images"] == "int"
        assert fields["is_tagged"] == "boolean"
        assert fields["artifact_text_rate"] == "double"
        assert fields["embedded_image"] == "binary"
        row = df.collect()[0]
        assert row.text == "only page"
        assert row.n_images == 0
        assert row.is_tagged is False
        assert row.embedded_image is None
        assert row.error is None

    def test_page_range_pushdown_still_prunes(self, spark):
        docs = {"a.pdf": build_pdf([f"p{i}" for i in range(1, 6)])}
        pipe = ExtractionPipeline(
            spark=spark, features=["text"], codec=PdfCodec()
        )
        got = sorted(
            r.page for r in pipe.pages(docs, page_range=(2, 4)).collect()
        )
        assert got == [2, 3, 4]
