"""Document-level extraction driver: payload bytes -> text + metrics.

The per-document equivalent of the reference's PDF(fname).GetFullText()
(__init__.py:64-77, 273-298, 548-620) plus the router demanded by the
north rule: payloads beginning with %PDF- take the PDF path, everything
else the HTML boilerplate-strip path.

The error policy generalizes the reference's swallow-and-continue
(__init__.py:287-296): per-page exceptions drop the page (partial text
leaks forward, reference-parity); document-level exceptions produce an
empty result with the error recorded.  The function NEVER raises — a hard
requirement for a UDF over a 10^12-document corpus.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import htmltext
from .assemble import TextAssembler
from .cos import PdfDocument
from .filters import UnsupportedFilterError
from .fonts import FontResolver
from .interp import PageInterpreter


@dataclass
class ExtractResult:
    parser: str  # 'pdf' | 'html'
    pages: list = field(default_factory=list)  # one text string per page
    spans: list = field(default_factory=list)  # per page: [(page,start,end,x,y)]
    n_pages: int = 0  # pages discovered (incl. dropped)
    pages_dropped: int = 0
    decode_failures: int = 0
    fallbacks: int = 0
    error: str | None = None


import re as _re

_SURROGATES = _re.compile("[\ud800-\udfff]")


def utf8_safe(s: str) -> str:
    """Columnar-boundary sanitizer: Arrow transfer and parquet storage
    require VALID UTF-8, but a ToUnicode CMap can emit lone surrogates
    (the reference passes chr(0xD835) through verbatim — pinned f131)
    which utf-8 cannot encode.  Deterministic rule: each lone surrogate
    code unit becomes U+FFFD.  The in-process core API stays byte-exact;
    this is applied ONLY at columnar boundaries — and the SAME helper is
    used by the Spark pipeline, the pure-Python expectations twin
    (fixtures/freeze_expectations.py) and the golden-parity test, so the
    three can never drift (ADVICE r05)."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        return _SURROGATES.sub("�", s)


# the reference accepts non-EOL unicode whitespace (latin-1 range:
# tab \x0b \x0c \x1c-\x1f space NEL NBSP) before %PDF- on the FIRST
# line (ParseHeader line.split(), deep diff_fuzz r05) — the router must
# send those to the PDF path or the two engines diverge on them
_PDF_MAGIC = _re.compile(rb"^[\t\x0b\x0c\x1c-\x1f \x85\xa0]*%PDF-")


def is_pdf(payload: bytes) -> bool:
    return _PDF_MAGIC.match(payload) is not None


def extract_pdf(payload: bytes, extended: bool = False) -> ExtractResult:
    res = ExtractResult(parser="pdf")
    try:
        doc = PdfDocument(payload, extended)
        pages = doc.pages()
    except Exception as e:  # malformed document: nothing extractable
        res.error = "%s: %s" % (type(e).__name__, e)
        return res

    res.n_pages = len(pages)
    resolver = FontResolver(doc)
    resources_stack: list = []  # shared across pages; leaks on page errors

    # one assembler for the whole document: y / widths / partial-buffer
    # state persists across pages (reference parity, __init__.py:548-614)
    interp_box: list[PageInterpreter] = []

    def lookup_font(name):
        return interp_box[0].lookup_font(name)

    asm = TextAssembler(doc, lookup_font)

    for page in pages:
        interp = PageInterpreter(doc, resolver, resources_stack,
                                 on_event=asm.feed_one,
                                 on_glyph=asm.on_glyph_draw,
                                 on_text_run=asm.on_text_run)
        interp_box[:] = [interp]
        try:
            # content decode happens BEFORE the resource push, like the
            # reference's RenderPage (__init__.py:300-342): a decode error
            # must not leak this page's resources onto the stack
            content = doc.page_content(page)
            resources = doc.resolve(page.get("Resources"))
            # push VERBATIM like the reference (__init__.py:329): a page
            # without /Resources pushes None, which GetFont later dies on
            # (recs.Font AttributeError) — and the un-popped None then
            # poisons every later page's font lookups (diff_fuzz r04)
            resources_stack.append(resources)
            interp.run_content(page, content)
            asm.on_page_end()
            resources_stack.pop()
        except UnsupportedFilterError as e:
            res.decode_failures += 1
            res.pages_dropped += 1
            if res.error is None:
                res.error = "decode: %s" % e
        except Exception as e:
            res.pages_dropped += 1
            if res.error is None:
                res.error = "%s: %s" % (type(e).__name__, e)
    res.pages = asm.fulltxt
    res.spans = asm.spans
    res.fallbacks = resolver.fallbacks
    return res


def extract_html(payload: bytes) -> ExtractResult:
    res = ExtractResult(parser="html", n_pages=1)
    try:
        text = htmltext.extract_main_text(payload)
        res.pages = [text]
        res.spans = [[]]
    except Exception as e:
        res.error = "%s: %s" % (type(e).__name__, e)
        res.pages_dropped = 1
    return res


def extract_document(payload, extended: bool = False) -> ExtractResult:
    """Router + extractor; never raises.  ``extended`` opts the PDF path
    into the superset of decode filters (filters.decode_stream); the
    default is strict reference parity."""
    try:
        if payload is None:
            return ExtractResult(parser="none", error="null payload")
        if isinstance(payload, memoryview):
            payload = payload.tobytes()
        elif isinstance(payload, bytearray):
            payload = bytes(payload)
        if is_pdf(payload):
            return extract_pdf(payload, extended)
        return extract_html(payload)
    except Exception as e:  # belt & braces: a UDF must never throw
        return ExtractResult(parser="error", error="%s: %s" % (type(e).__name__, e))
