"""Extraction-pipeline tests mirroring upstream's style (SURVEY §5.1):
small fixture documents incl. a corrupted one, golden rows sorted by
(path, page), parametrized features, error-row semantics."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf2dataset_spark.extraction import extract, extract_text
from pdf2dataset_spark.operators.features import (
    ERROR_PAGE,
    Feature,
    extract_features,
    output_schema,
    resolve_features,
)
from pdf2dataset_spark.sources import from_dict

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

    from pdf2dataset_spark.operators.features import skip_unchanged_zip_rereads

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
