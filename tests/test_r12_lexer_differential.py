"""Differential fuzz: the findall content lexer vs the match loop.

The round-12 fast lexer (`_lex_content_fast` behind
`_iter_content_ops`) must yield EXACTLY the `(op, operands)` sequence
of the historical match-loop lexer — including which exception (if
any) ends the stream — for every content stream, clean or hostile.
This generates streams from a grammar that deliberately covers the
anomaly surface (escaped/nested strings, #-names, comments, stray
delimiters, BI segments, keywords inside containers, truncation) and
compares both front ends token for token.
"""

from __future__ import annotations

import random

import pytest

from pdf2dataset_spark.sources.minipdf import (
    _CTEXT_OPS,
    _iter_content_ops_matchloop,
    _lex_content_fast,
)


def _drain(gen):
    """(yields, exception-type-name) of an op generator."""
    out = []
    try:
        for op, stack in gen:
            out.append((op, list(stack)))
    except Exception as e:  # noqa: BLE001 - type parity is the point
        return out, type(e).__name__
    return out, None


def _fast_drain(content, wanted):
    ops = _lex_content_fast(content, wanted)
    if ops is None:  # anomaly: delegates to the match loop
        return None
    return [(op, list(stack)) for op, stack in ops]


TOKENS = [
    b"1", b"-2.5", b".5", b"+0", b"12345", b"3.", b"0 0 1 50 700",
    b"/F1", b"/", b"/Na#6de", b"/Long#20Name",
    b"(simple)", b"()", b"(with \\(escape\\))", b"(nested (paren) run)",
    b"(octal \\101\\102)", b"(line\\\ncont)", b"(unterminated",
    b"(a\\\\)", b"(x\\\\\\))", b"(tail\\",
    b"(" + b"long \\) body \\\\ " * 256 + b")",
    b"<48656C6C6F>", b"<48 65 6c>", b"<>", b"<zz>", b"<0>",
    b"[1 2 3]", b"[(a) -12 (b)]", b"[]", b"[(esc\\)ed) 5]",
    b"[/Name (s) 1]", b"[[1 2] 3]", b"[true false null]",
    b"<< /A 1 /B (x) >>", b"<< /N [1 2] /D << /K /V >> >>",
    b"<< /Odd >>", b"<< (notaname) 1 >>",
    b"BT", b"ET", b"Tj", b"TJ", b"Td", b"Tf", b"Tm", b"cm", b"q", b"Q",
    b"re", b"f", b"S", b"W", b"n", b"gs", b"Do", b"true", b"false",
    b"null", b"T*", b"'", b'"',
    b"% a comment\n", b"%unterminated-comment-at-eof",
    b"]", b">>", b"{", b"}", b")",
    b"BI /W 2 /H 2 ID \xde\xad\xbe\xef EI",
    # an operand fused with the operator right after it
    b"12Tf", b"0 -14Td", b"(x)Tj", b"[(a)-2(b)]TJ", b"1.5.5Tz",
    b"1\x002\x003 Td", b"1\x0c-2 Td", b"1\r\n2\r\n3 cm",
    b"1 2 % c\nTd", b"(s) % c\nTj", b"[1] % c\nTJ",
    b"[1 true]", b"[1 2 null]", b"1 2 BI",
]

WS = [b" ", b"\n", b"\r\n", b"\t", b"\x00", b""]


#: the tokens the fast lexer accepts on their own: streams drawn from
#: these alone mostly stay on the fast path, so the comparison below
#: is not dominated by the anomaly fallback
CLEAN_TOKENS = [t for t in TOKENS if _lex_content_fast(t, None) is not None]


def _random_stream(rng, tokens):
    n = rng.randrange(1, 60)
    parts = []
    for _ in range(n):
        parts.append(rng.choice(tokens))
        parts.append(rng.choice(WS))
    content = b" ".join(parts) if rng.random() < 0.2 else b"".join(parts)
    if rng.random() < 0.2:  # truncate mid-stream
        content = content[: rng.randrange(len(content) + 1)]
    return content


def _check(content) -> bool:
    """Assert both lexers agree; True when the fast path accepted."""
    accepted = False
    for wanted in (None, _CTEXT_OPS):
        ref, ref_exc = _drain(_iter_content_ops_matchloop(content, wanted))
        fast = _fast_drain(content, wanted)
        if fast is None:
            continue  # anomaly path IS the match loop: identical by construction
        # the fast path never raises mid-stream: a stream it accepts
        # must be one the match loop finishes cleanly
        assert ref_exc is None, (content, ref_exc)
        assert fast == ref, content
        accepted = True
    return accepted


@pytest.mark.parametrize("seed", range(200))
def test_differential_random_streams(seed):
    _check(_random_stream(random.Random(seed), TOKENS))


def test_differential_clean_streams():
    accepted = sum(
        _check(_random_stream(random.Random(seed), CLEAN_TOKENS))
        for seed in range(200)
    )
    assert accepted >= 100, accepted


def test_differential_corpus_pages():
    """Every real-corpus page must lex identically through both."""
    import pathlib

    from pdf2dataset_spark.sources.minipdf import PdfDocument

    corpus = [
        p for p in (
            "/usr/share/doc/libtasn1-doc/libtasn1.pdf",
            "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
        ) if pathlib.Path(p).exists()
    ]
    if not corpus:
        pytest.skip("real corpus not installed")
    pages = 0
    for path in corpus:
        doc = PdfDocument(pathlib.Path(path).read_bytes())
        for p in doc.pages():
            content = doc.page_content(p)
            ref, ref_exc = _drain(
                _iter_content_ops_matchloop(content, _CTEXT_OPS)
            )
            fast = _fast_drain(content, _CTEXT_OPS)
            if fast is not None:
                assert ref_exc is None
                assert fast == ref
            pages += 1
    assert pages >= 50
