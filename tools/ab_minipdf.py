"""Paired in-process A/B of the ``text`` path of two checkouts.

Loads ``pdf2dataset_spark/sources/minipdf.py`` of each checkout under
its own module name and runs both over the same ``extract_text``
corpus (``perfbench.gen.text_corpus``), alternating which runs first
in each rep. Every pass is timed per stage under ``process_time``:

- parse:  ``PdfDocument(data)`` + ``pages()``
- inputs: ``_page_text_inputs`` (content, fonts, forms, ...)
- runs:   ``_text_runs`` + ``_display_runs`` (lex + interpret)
- cut:    ``_cut_lines`` (the XY-cut)
- lines:  ``_layout_lines`` + ``lines_text``

Prints, per stage and in total, the median ms per page of each side,
the ratio B/A and in how many reps B was cheaper, and whether the two
sides produced the same page texts.

Usage: python tools/ab_minipdf.py --a <checkout> --b <checkout>
       [--seed 1] [--reps 10]
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ("parse", "inputs", "runs", "cut", "lines")


def load_minipdf(checkout: str, name: str):
    """``minipdf.py`` of ``checkout`` as a module called ``name``."""
    path = os.path.join(checkout, "pdf2dataset_spark", "sources", "minipdf.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


def corpus(seed: int) -> list[bytes]:
    """The ``extract_text`` corpus of ``seed``, minus the planted
    corrupt files (they never reach the text path)."""
    from perfbench.gen import text_corpus

    data = text_corpus(seed)
    bad = set(data["corrupt"])
    return [b for rel, b in sorted(data["files"].items()) if rel not in bad]


def one_pass(m, docs: list[bytes]) -> tuple[dict, int, list[str]]:
    """Per-stage CPU seconds, pages and page texts of one pass."""
    clock = time.process_time
    spent = dict.fromkeys(STAGES, 0.0)
    texts: list[str] = []
    gc.collect()
    for data in docs:
        t0 = clock()
        doc = m.PdfDocument(data)
        pages = doc.pages()
        spent["parse"] += clock() - t0
        for p in pages:
            t0 = clock()
            kw, rotate, box = m._page_text_inputs(doc, p)
            t1 = clock()
            runs = m._display_runs(m._text_runs(**kw), rotate, box)
            t2 = clock()
            cut = m._cut_lines(runs)
            t3 = clock()
            texts.append(m.lines_text(m._layout_lines(cut)))
            t4 = clock()
            spent["inputs"] += t1 - t0
            spent["runs"] += t2 - t1
            spent["cut"] += t3 - t2
            spent["lines"] += t4 - t3
    return spent, len(texts), texts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="baseline checkout")
    ap.add_argument("--b", required=True, help="candidate checkout")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=10)
    args = ap.parse_args(argv)

    mods = {"A": load_minipdf(args.a, "minipdf_a"),
            "B": load_minipdf(args.b, "minipdf_b")}
    docs = corpus(args.seed)
    samples = {k: {s: [] for s in (*STAGES, "total")} for k in mods}
    outputs = {}
    pages = 0
    for rep in range(args.reps):
        order = ("A", "B") if rep % 2 == 0 else ("B", "A")
        for k in order:
            spent, pages, texts = one_pass(mods[k], docs)
            outputs[k] = texts
            for s in STAGES:
                samples[k][s].append(1000.0 * spent[s] / pages)
            samples[k]["total"].append(1000.0 * sum(spent.values()) / pages)
    print(f"seed {args.seed}: {len(docs)} documents, {pages} pages, "
          f"{args.reps} paired reps (ms per page, process_time)")
    print(f"{'stage':<8}{'A':>9}{'B':>9}{'B/A':>8}  B wins")
    for s in (*STAGES, "total"):
        a, b = samples["A"][s], samples["B"][s]
        ma, mb = statistics.median(a), statistics.median(b)
        wins = sum(1 for x, y in zip(a, b) if y < x)
        print(f"{s:<8}{ma:>9.4f}{mb:>9.4f}{mb / ma:>8.3f}  {wins}/{len(a)}")
    same = outputs["A"] == outputs["B"]
    print(f"page texts identical: {same}")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
