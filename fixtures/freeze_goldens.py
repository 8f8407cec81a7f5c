"""Freeze golden extraction outputs by running the REFERENCE in-process.

Runs ``pypdfproc.PDF(f).GetFullText()`` (the reference at /root/reference,
loaded with the PLY-API shim in tools/ply_shim) over every fixture PDF from
``fixtures/pdfgen.py`` and writes the per-page text to
``fixtures/goldens/pdf_goldens.json``.

The frozen file is committed so the test suite does NOT need the reference
at runtime; re-run this script only when fixtures change:

    python fixtures/freeze_goldens.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS_PATH = os.path.join(REPO, "fixtures", "goldens", "pdf_goldens.json")


def freeze() -> dict[str, list[str]]:
    sys.path.insert(0, os.path.join(REPO, "tools", "ply_shim"))
    sys.path.insert(0, "/root/reference")
    sys.path.insert(0, REPO)
    import pypdfproc  # the reference, via the shim

    from fixtures.pdfgen import build_all

    out: dict[str, list[str]] = {}
    tmp = tempfile.mkdtemp(prefix="pdf_fixtures_")
    for name, data in sorted(build_all().items()):
        p = os.path.join(tmp, name + ".pdf")
        with open(p, "wb") as fh:
            fh.write(data)
        try:
            doc = pypdfproc.PDF(p)
            out[name] = doc.GetFullText()
        except Exception:
            # doc-level raise (e.g. f61: every xref row read as free ->
            # Object N not found): the reference retrieves NO text at all;
            # the engine mirrors it as pages=[] with a typed error
            out[name] = []
    return out


HTML_GOLDENS_PATH = os.path.join(REPO, "fixtures", "goldens",
                                 "html_goldens.json")


def freeze_html() -> dict[str, str]:
    """HTML goldens are OUR OWN deterministic output (no reference analog,
    FIXTURES.md §3): frozen here so any extractor change shows up as an
    explicit golden diff, never a silent drift."""
    sys.path.insert(0, REPO)
    from fixtures.htmlgen import build_all as build_html
    from pypdfproc_spark.core.htmltext import extract_main_text

    return {name: extract_main_text(data)
            for name, data in sorted(build_html().items())}


EXT_GOLDENS_PATH = os.path.join(REPO, "fixtures", "goldens",
                                "extended_goldens.json")


def freeze_extended() -> dict[str, list[str]]:
    """Extended-mode goldens are OUR OWN deterministic output (the
    reference cannot decode any non-Flate filter — pinned f57/f58), frozen
    so a regression in the extended=True opt-in path shows up as an
    explicit golden diff (VERDICT r04 item 4)."""
    sys.path.insert(0, REPO)
    from fixtures.extgen import build_all as build_ext
    from pypdfproc_spark.core.extract import extract_document

    return {name: extract_document(data, extended=True).pages
            for name, data in sorted(build_ext().items())}


def main() -> None:
    goldens = freeze()
    os.makedirs(os.path.dirname(GOLDENS_PATH), exist_ok=True)
    with open(GOLDENS_PATH, "w") as fh:
        # ensure_ascii: golden text can contain LONE SURROGATES (f131 — the
        # reference emits chr(0xD835) verbatim); raw utf-8 output cannot
        # encode them, so escape to \uXXXX which JSON round-trips exactly
        json.dump(goldens, fh, indent=1, ensure_ascii=True)
    sys.stdout.write("wrote %s (%d fixtures)\n" % (GOLDENS_PATH, len(goldens)))
    hg = freeze_html()
    with open(HTML_GOLDENS_PATH, "w") as fh:
        json.dump(hg, fh, indent=1, ensure_ascii=True)
    sys.stdout.write("wrote %s (%d fixtures)\n" % (HTML_GOLDENS_PATH, len(hg)))
    eg = freeze_extended()
    with open(EXT_GOLDENS_PATH, "w") as fh:
        json.dump(eg, fh, indent=1, ensure_ascii=True)
    sys.stdout.write("wrote %s (%d fixtures)\n" % (EXT_GOLDENS_PATH, len(eg)))


if __name__ == "__main__":
    main()
