"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and returns plain Python data (bytes,
lists, dicts); none touches Spark, so the engine only ever sees the
generated inputs. The aggregate shape of each input (document count,
total pages, codec mix, duplicate shares) is fixed; the seed chooses
the content, which documents are long, and where corrupt or copied
files sit. That keeps run-to-run spread across seeds small while every
seed still exercises different bytes.
"""

from __future__ import annotations

import hashlib
import os
import random

#: The two real PDFs copied into ``extract_text``. They carry TeX
#: Type1 fonts and TJ kerning, which ``minipdf.build_pdf`` cannot
#: produce. ``sha256`` pins the file, ``text_sha256`` pins the text the
#: engine extracted from it (pages joined with form feeds).
REAL_PDFS = {
    "libtasn1.pdf": {
        "path": "/usr/share/doc/libtasn1-doc/libtasn1.pdf",
        "sha256": "3917eb460d87e275f9792b3597029873fd77890ed3ccebe40bbc5a3a7ee516d3",
        "text_sha256": "70bfbaf3c234ad3fc8c7f25cc9d9bcc25c33373fe9f8ab20298f930e320256c5",
    },
    "shared-mime-info-spec.pdf": {
        "path": "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
        "sha256": "4d9666c46b4d367a12e2922f4f3b114396c377106c57bbc934d03320e6888002",
        "text_sha256": "97c57f624948c315799691b83d0a751556921f77de5e0208602a162f9aafb9ae",
    },
}

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def vocabulary(rng: random.Random, n: int = 2000) -> list[str]:
    """``n`` lowercase words of 2-9 letters (duplicates allowed)."""
    return [
        "".join(rng.choice(_LETTERS) for _ in range(rng.randint(2, 9)))
        for _ in range(n)
    ]


def skewed_counts(rng: random.Random, n: int, total: int, cap: float = 30.0) -> list[int]:
    """``n`` positive integers summing to ``total`` with a Pareto-shaped
    skew (largest-remainder rounding, so the sum is exact). The multiset
    is the same for every seed and ``rng`` only shuffles it: Spark packs
    files into tasks by size, so a fixed multiset keeps the task sizes,
    and with them the run-to-run spread, the same across seeds."""
    fixed = random.Random(n * 7919 + total)
    weights = [min(fixed.paretovariate(1.2), cap) for _ in range(n)]
    spare = total - n
    scale = spare / sum(weights)
    raw = [w * scale for w in weights]
    counts = [1 + int(r) for r in raw]
    rest = total - sum(counts)
    order = sorted(range(n), key=lambda i: (int(raw[i]) - raw[i], i))
    for i in order[:rest]:
        counts[i] += 1
    rng.shuffle(counts)
    return counts


def real_pdf_bytes() -> dict[str, bytes]:
    """The real PDFs, checked against their pinned sha256."""
    out = {}
    for name, meta in REAL_PDFS.items():
        if not os.path.exists(meta["path"]):
            raise FileNotFoundError(f"real PDF {name} missing at {meta['path']}")
        with open(meta["path"], "rb") as f:
            data = f.read()
        digest = hashlib.sha256(data).hexdigest()
        if digest != meta["sha256"]:
            raise ValueError(f"real PDF {name} changed: sha256 {digest}")
        out[name] = data
    return out


def text_corpus(
    seed: int,
    docs: int = 120,
    pages: int = 900,
    corrupt: int = 4,
    real_copies: int = 1,
) -> dict:
    """Born-digital PDFs for ``extract_text``.

    Returns ``files`` (relative path -> bytes), ``tokens`` (relative
    path -> per-page whitespace tokens of generated documents),
    ``corrupt`` (sorted relative paths that must yield one error row)
    and ``real`` (relative path -> real PDF name). Pages hold 45 lines
    of 12 words, about 4 KB of content stream each, FlateDecoded.
    """
    from pdf2dataset_spark.sources.minipdf import build_pdf

    rng = random.Random(seed)
    vocab = vocabulary(rng)
    counts = skewed_counts(rng, docs, pages)
    files: dict[str, bytes] = {}
    tokens: dict[str, list[list[str]]] = {}
    for i, n_pages in enumerate(counts):
        lines_per_page = [
            [" ".join(rng.choice(vocab) for _ in range(12)) for _ in range(45)]
            for _ in range(n_pages)
        ]
        rel = f"s{i % 8}/d{i:04d}.pdf"
        files[rel] = build_pdf(["\n".join(ls) for ls in lines_per_page], compress=True)
        tokens[rel] = [" ".join(ls).split() for ls in lines_per_page]
    bad = []
    for j in range(corrupt):
        junk = bytes(rng.randrange(256) for _ in range(rng.randint(200, 2000)))
        # half carry a PDF header (parse fails on structure), half do not
        body = b"%PDF-1.4\n" + junk if j % 2 == 0 else b"\x00" + junk
        rel = f"s{j % 8}/x{j:04d}.pdf"
        files[rel] = body
        bad.append(rel)
    real = {}
    originals = real_pdf_bytes()
    for j in range(real_copies):
        for name, data in originals.items():
            rel = f"s{rng.randrange(8)}/r{j}-{name}"
            files[rel] = data
            real[rel] = name
    return {"files": files, "tokens": tokens, "corrupt": sorted(bad), "real": real}


def write_files(root: str, files: dict[str, bytes]) -> int:
    """Write ``files`` under ``root``; returns the bytes written."""
    total = 0
    for rel, data in sorted(files.items()):
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        total += len(data)
    return total


#: ``extract_scanned`` codec sequence: per 12 pages, 5 JPEG, 3 CCITT
#: G4, 3 JBIG2 and 1 JPX. Fixed positions keep the per-task cost mix
#: the same for every seed.
SCAN_PATTERN = (
    "jpeg", "ccitt", "jbig2", "jpeg", "jpx", "ccitt",
    "jbig2", "jpeg", "ccitt", "jpeg", "jbig2", "jpeg",
)


def _gray_image(rng: random.Random, w: int, h: int) -> bytes:
    """A fixed-slope gradient with seeded phase plus seeded 3-bit noise.
    The slope sets how much the codecs must code, so it stays fixed to
    keep decode cost the same across seeds."""
    c = rng.randrange(256)
    noise = rng.randbytes(w * h)
    return bytes(
        (c + (i % w) * 3 + (i // w) * 5 + (n & 7)) & 255
        for i, n in enumerate(noise)
    )


def _bilevel_text(rng: random.Random) -> tuple[int, int, bytes]:
    """A rasterized random text block, 8-bit (0 ink / 255 paper)."""
    from pdf2dataset_spark.sources import raster

    text = "\n".join(
        "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ ") for _ in range(30))
        for _ in range(4)
    )
    w, h, px = raster._rasterize(text)
    return w, h, bytes(px)


def scanned_pages(seed: int, docs: int = 36) -> dict:
    """Image-only one-page PDFs for ``extract_scanned``.

    Returns ``docs`` (name -> PDF bytes) and ``images`` (name -> dict
    with ``kind``, ``width``, ``height``, ``data`` (the encoded
    payload) and ``pixels`` (the 8-bit source samples)).
    """
    from pdf2dataset_spark.sources import ccitt, jbig2, jpeg, jpx
    from pdf2dataset_spark.sources.minipdf import build_pdf

    rng = random.Random(seed)
    out_docs: dict[str, bytes] = {}
    images: dict[str, dict] = {}
    # JPX pages share one payload: encoding costs as much as decoding,
    # and set-up would otherwise be dominated by the JPX encoder
    jpx_px = _gray_image(rng, 128, 80)
    jpx_data = jpx.encode_jpx(128, 80, jpx_px, 1, levels=2)
    for i in range(docs):
        kind = SCAN_PATTERN[i % len(SCAN_PATTERN)]
        if kind == "jpeg":
            w, h = 208, 120
            px = _gray_image(rng, w, h)
            xobj = {"filter": "/DCTDecode", "data": jpeg.encode_jpeg(w, h, px, quality=85)}
        elif kind == "jpx":
            w, h, px = 128, 80, jpx_px
            xobj = {"filter": "/JPXDecode", "data": jpx_data}
        else:
            w, h, px = _bilevel_text(rng)
            if kind == "ccitt":
                xobj = {
                    "filter": "/CCITTFaxDecode",
                    "data": ccitt.encode_g4(px, w, h),
                    "bits": 1,
                    "decode_parms": {"/K": -1, "/Columns": w, "/Rows": h},
                }
            else:
                rows = [
                    bytearray(1 if px[y * w + x] < 128 else 0 for x in range(w))
                    for y in range(h)
                ]
                xobj = {
                    "filter": "/JBIG2Decode",
                    "data": jbig2.encode_generic_page(rows, template=0, tpgdon=True),
                    "bits": 1,
                }
        xobj.update(width=w, height=h)
        name = f"scan{i:03d}-{kind}.pdf"
        out_docs[name] = build_pdf(
            [""], images=[xobj], extra_content=b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)
        )
        images[name] = {"kind": kind, "width": w, "height": h, "data": xobj["data"], "pixels": px}
    return {"docs": out_docs, "images": images}


def split_is_train(doc_id: int, train_frac: float = 0.9) -> bool:
    """``curate.split_hash`` recomputed in Python: md5 of the decimal
    id, first 8 hex digits as an unsigned fraction of 2**32."""
    u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) / float(1 << 32)
    return u < train_frac


def curate_corpus(seed: int, docs: int = 600) -> dict:
    """Text documents for ``curate_corpus``, in the shape of
    ``tools/bench_pipeline.synth_docs``: 72 % unique 40-word texts, 8 % exact duplicates and
    8 % near duplicates (one appended word) of a unique text, 6 %
    repetitive texts (two alternating words) and 6 % junk (too short or
    too long-worded). Ids are a seeded permutation, so a duplicate may
    carry a lower id than its original.

    Returns ``doc_id`` and ``text`` lists plus ``kept`` (the sorted ids
    the curation must keep: the lowest id of each unique text's group)
    and ``train`` (how many of those fall in the train split).
    """
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    n_base = docs * 72 // 100
    n_exact = docs * 8 // 100
    n_near = docs * 8 // 100
    n_rep = docs * 6 // 100
    n_junk = docs - n_base - n_exact - n_near - n_rep
    ids = list(range(docs))
    rng.shuffle(ids)
    texts: list[str] = []
    groups: list[list[int]] = []
    for _ in range(n_base):
        texts.append(" ".join(rng.choice(vocab) for _ in range(40)))
        groups.append([len(texts) - 1])
    for _ in range(n_exact):
        g = rng.randrange(n_base)
        texts.append(texts[g])
        groups[g].append(len(texts) - 1)
    for _ in range(n_near):
        g = rng.randrange(n_base)
        texts.append(texts[g] + " " + rng.choice(vocab))
        groups[g].append(len(texts) - 1)
    for _ in range(n_rep):
        a, b = rng.choice(vocab), rng.choice(vocab)
        texts.append(" ".join([a, b] * 20))
    for j in range(n_junk):
        if j % 2:
            texts.append("tiny")
        else:
            texts.append(" ".join("".join(rng.choice(_LETTERS) for _ in range(20)) for _ in range(8)))
    kept = sorted(min(ids[i] for i in grp) for grp in groups)
    return {
        "doc_id": ids,
        "text": texts,
        "kept": kept,
        "train": sum(1 for d in kept if split_is_train(d)),
    }
