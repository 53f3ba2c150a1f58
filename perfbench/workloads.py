"""The benchmark workloads. Each one generates its inputs from a seed
(``prepare``), runs one closed-loop job through the public API
(``run_once``) and checks that job's output against what the generator
implies (``check``)."""

from __future__ import annotations

import json
import os
import shutil
import struct
import zlib
from dataclasses import dataclass

from perfbench import gen


@dataclass
class Outcome:
    """One checked job: rows emitted, items attempted and failed, and
    the bytes the sink produced."""

    emitted: int
    attempted: int
    failed: int
    out_bytes: int


def part_file_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files Spark wrote under ``root``."""
    total = n = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                total += os.path.getsize(os.path.join(d, f))
                n += 1
    return total, n


def png_dims(data: bytes) -> tuple[int, int]:
    """Decode a PNG far enough to prove it is whole: parse IHDR, inflate
    the IDAT stream and check its length against the declared size."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, w = 8, [], None
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        tag, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
        elif tag == b"IDAT":
            idat.append(body)
        pos += 12 + n
    if w is None:
        raise ValueError("PNG without IHDR")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    row = (w * channels * depth + 7) // 8 + 1
    if len(zlib.decompress(b"".join(idat))) != row * h:
        raise ValueError("PNG pixel data does not match IHDR")
    return w, h


class ExtractText:
    """A folder of born-digital PDFs through ``scan_documents``, the
    fused pass and the gzip-parquet sink."""

    name = "extract_text"
    item = "pages"

    def __init__(self, **sizes):
        self.sizes = sizes

    def prepare(self, work: str, seed: int) -> None:
        self.src = os.path.join(work, "pdfs")
        shutil.rmtree(self.src, ignore_errors=True)
        self.data = gen.text_corpus(seed, **self.sizes)
        self.in_bytes = gen.write_files(self.src, self.data["files"])
        self.out_root = os.path.join(work, "out")
        self._n = 0

    def pipeline(self, spark):
        from pdf2dataset_spark.extraction import ExtractionPipeline
        from pdf2dataset_spark.sources.codecs import PdfCodec

        return ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())

    def run_once(self, pipe) -> str:
        self._n += 1
        out = os.path.join(self.out_root, f"run{self._n}")
        pipe.run(self.src, out_path=out)
        return out

    def check(self, out: str) -> Outcome:
        import hashlib

        import pyarrow.parquet as pq

        rows = pq.read_table(out, columns=["path", "page", "text", "error"]).to_pylist()
        by_path: dict[str, list[dict]] = {}
        for r in rows:
            by_path.setdefault(r["path"], []).append(r)
        attempted = failed = 0
        seen = set()
        for rel, pages in self.data["tokens"].items():
            seen.add(rel)
            got = {r["page"]: r for r in by_path.get(rel, [])}
            attempted += len(pages)
            for i, toks in enumerate(pages, 1):
                r = got.get(i)
                if r is None or r["error"] is not None or (r["text"] or "").split() != toks:
                    failed += 1
            failed += len(set(got) - set(range(1, len(pages) + 1)))
        for rel in self.data["corrupt"]:
            seen.add(rel)
            got = by_path.get(rel, [])
            attempted += 1
            if not (len(got) == 1 and got[0]["page"] == -1 and got[0]["error"]):
                failed += 1
        for rel, name in self.data["real"].items():
            seen.add(rel)
            got = sorted(by_path.get(rel, []), key=lambda r: r["page"])
            attempted += max(len(got), 1)
            text = "\f".join(r["text"] or "" for r in got)
            ok = all(r["error"] is None for r in got) and (
                hashlib.sha256(text.encode()).hexdigest() == gen.REAL_PDFS[name]["text_sha256"]
            )
            if not ok:
                failed += max(len(got), 1)
        failed += sum(len(v) for k, v in by_path.items() if k not in seen)
        out_bytes, _ = part_file_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return Outcome(len(rows), attempted, failed, out_bytes)


class ExtractScanned:
    """Image-only pages from an in-memory dict through ``from_dict``,
    the fused pass and an Arrow collect to pandas."""

    name = "extract_scanned"
    item = "pages"
    features = ["n_images", "embedded_image_meta", "image"]

    def __init__(self, **sizes):
        self.sizes = sizes

    def prepare(self, work: str, seed: int) -> None:
        self.data = gen.scanned_pages(seed, **self.sizes)
        self.docs = self.data["docs"]
        self.in_bytes = sum(len(v) for v in self.docs.values())

    def pipeline(self, spark):
        from pdf2dataset_spark.extraction import ExtractionPipeline
        from pdf2dataset_spark.sources.codecs import PdfCodec

        return ExtractionPipeline(
            spark=spark, features=list(self.features), codec=PdfCodec(image_format="png")
        )

    def run_once(self, pipe):
        return pipe.run(self.docs, small=True)

    def check(self, pdf) -> Outcome:
        rows = pdf.to_dict("records")
        by_path = {}
        for r in rows:
            by_path.setdefault(r["path"], []).append(r)
        attempted = failed = 0
        out_bytes = 0
        for r in rows:
            for col in ("path", "embedded_image_meta", "image", "error"):
                v = r[col]
                if isinstance(v, (bytes, bytearray)):
                    out_bytes += len(v)
                elif isinstance(v, str):
                    out_bytes += len(v.encode())
        for name, want in self.data["images"].items():
            attempted += 1
            got = by_path.get(name, [])
            if len(got) != 1 or not self._page_ok(got[0], want):
                failed += 1
        failed += sum(len(v) for k, v in by_path.items() if k not in self.data["images"])
        return Outcome(len(rows), attempted, failed, out_bytes)

    @staticmethod
    def _page_ok(r: dict, want: dict) -> bool:
        if r["page"] != 1 or r["error"] is not None or r["n_images"] != 1:
            return False
        meta = json.loads(r["embedded_image_meta"] or "[]")
        if len(meta) != 1:
            return False
        m = meta[0]
        dims = (want["width"], want["height"])
        if not (m.get("decodable") and m.get("format") == want["kind"]
                and (m.get("width"), m.get("height")) == dims):
            return False
        try:
            return png_dims(bytes(r["image"])) == dims
        except (ValueError, TypeError, KeyError, zlib.error, struct.error):
            return False


class CurateCorpus:
    """The generated curation corpus as parquet files, the input on which
    the traced runs time the ``curate`` stages (``layers.py``)."""

    name = "curate_corpus"
    parts = 4

    def __init__(self, **sizes):
        self.sizes = sizes

    def prepare(self, work: str, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.src = os.path.join(work, "corpus")
        shutil.rmtree(self.src, ignore_errors=True)
        os.makedirs(self.src)
        self.data = gen.curate_corpus(seed, **self.sizes)
        ids, texts = self.data["doc_id"], self.data["text"]
        n = len(ids)
        for p in range(self.parts):
            lo, hi = p * n // self.parts, (p + 1) * n // self.parts
            table = pa.table({"doc_id": pa.array(ids[lo:hi], pa.int64()),
                              "text": pa.array(texts[lo:hi], pa.string())})
            pq.write_table(table, os.path.join(self.src, f"part-{p}.parquet"))


#: the workloads ``run.py`` accepts. ``curate.run`` is not one of them:
#: a run of it takes about twice as long as an extraction run, and a third
#: workload did not fit the time budget of a benchmark session.
WORKLOADS = {w.name: w for w in (ExtractText, ExtractScanned)}
