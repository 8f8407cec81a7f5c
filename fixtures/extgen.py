"""Extended filter mode differential corpus (e01+).

PDFs whose content streams use the OPT-IN superset decoders
(LZW / ASCIIHex / ASCII85 / RunLength, filter chains, abbreviations,
TIFF/PNG predictors — core/filters.py decode_stream extended path).  The
reference cannot read any of these (its decoder raises on every filter
but FlateDecode — pinned by f57/f58), so there is no reference golden:
``fixtures/goldens/extended_goldens.json`` freezes OUR OWN extended-mode
output, making any regression in the extended path an explicit golden
diff instead of invisible drift (VERDICT r04 item 4).

Every fixture here uses a NON-Flate primary filter (or a filter chain),
so strict mode must drop the page with UnsupportedFilterError — asserted
structurally by tests/test_extended_goldens.py.

Seed-free and wall-clock-free: identical output on every run.
"""

from __future__ import annotations

import base64

from fixtures.pdfgen import HELV, PdfFile, flate, png_up_encode


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """PDF/TIFF-convention LZW encoder (clear=256, EOD=257, 9-12 bit
    codes; width bumps at next_code-1+EarlyChange reaching 2^width).
    Used by these fixtures and by tests/test_lzw.py round-trips."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits = []

    def emit(code):
        bits.append((code, width))

    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        if next_code - 1 + early >= (1 << width) and width < 12:
            width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)
    buf = cnt = 0
    out = bytearray()
    for code, wd in bits:
        buf = (buf << wd) | code
        cnt += wd
        while cnt >= 8:
            out.append((buf >> (cnt - 8)) & 0xFF)
            cnt -= 8
    if cnt:
        out.append((buf << (8 - cnt)) & 0xFF)
    return bytes(out)


def rl_encode(data: bytes) -> bytes:
    """RunLengthDecode encoder: repeated runs as (257-n, byte), literal
    runs as (n-1, bytes), 0x80 EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        j = i
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
            continue
        # literal run: until a 2+ repeat starts or 128 bytes
        j = i + 1
        while (
            j < n
            and j - i < 128
            and not (j + 1 < n and data[j] == data[j + 1])
        ):
            j += 1
        out.append(j - i - 1)
        out.extend(data[i:j])
        i = j
    out.append(0x80)
    return bytes(out)


def _doc(filter_extra: bytes, encoded: bytes, text: bytes) -> bytes:
    """Standard 5-object graph whose content stream carries
    ``filter_extra`` in its dict and ``encoded`` as raw bytes."""
    content = b"BT /F1 12 Tf 72 720 Td (" + text + b") Tj ET"
    assert content  # the caller encodes exactly this
    f = PdfFile()
    f.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    f.add(2, b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>")
    f.add(3, HELV)
    f.add(4, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>")
    f.add_stream(5, filter_extra, encoded)
    return f.build(1)


def _content(text: bytes) -> bytes:
    return b"BT /F1 12 Tf 72 720 Td (" + text + b") Tj ET"


def e01_lzw() -> bytes:
    c = _content(b"LZW extended")
    return _doc(b"/Filter /LZWDecode", lzw_encode(c), b"LZW extended")


def e02_lzw_early0() -> bytes:
    c = _content(b"LZW early zero")
    return _doc(b"/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
                lzw_encode(c, early=0), b"LZW early zero")


def e03_asciihex() -> bytes:
    c = _content(b"Hex extended")
    return _doc(b"/Filter /ASCIIHexDecode", c.hex().encode() + b">",
                b"Hex extended")


def e04_ascii85() -> bytes:
    c = _content(b"A85 extended")
    return _doc(b"/Filter /ASCII85Decode",
                base64.a85encode(c) + b"~>", b"A85 extended")


def e05_runlength() -> bytes:
    c = _content(b"RL extended aaaaaaaaaaaaaaaa end")
    return _doc(b"/Filter /RunLengthDecode", rl_encode(c),
                b"RL extended aaaaaaaaaaaaaaaa end")


def e06_chain_ahx_flate() -> bytes:
    """Filter chain with ABBREVIATED names: [/AHx /Fl] applied in array
    order (hex-decode, then inflate)."""
    c = _content(b"Chained filters")
    enc = (flate(c).hex().encode() + b">")
    return _doc(b"/Filter [/AHx /Fl]", enc, b"Chained filters")


def e07_chain_rl_flate() -> bytes:
    """[/RunLengthDecode /FlateDecode] chain — full names, two stages."""
    c = _content(b"RL then Flate")
    return _doc(b"/Filter [/RunLengthDecode /FlateDecode]",
                rl_encode(flate(c)), b"RL then Flate")


def e08_lzw_png_pred() -> bytes:
    """LZW + PNG Up predictor (12): rows of the padded content are
    PNG-Up-encoded then LZW-compressed."""
    c = _content(b"LZW predicted")
    cols = 16
    pad = (-len(c)) % cols
    padded = c + b" " * pad  # trailing spaces are content-harmless
    rows = [padded[i:i + cols] for i in range(0, len(padded), cols)]
    enc = lzw_encode(png_up_encode(rows))
    return _doc(b"/Filter /LZWDecode /DecodeParms "
                b"<< /Predictor 12 /Columns 16 >>", enc, b"LZW predicted")


def e09_lzw_tiff_pred() -> bytes:
    """LZW + TIFF predictor (2): horizontal byte differencing."""
    c = _content(b"LZW tiff pred")
    cols = 16
    pad = (-len(c)) % cols
    padded = c + b" " * pad
    out = bytearray()
    for r in range(0, len(padded), cols):
        row = padded[r:r + cols]
        prev = 0
        for b in row:
            out.append((b - prev) % 256)
            prev = b
    enc = lzw_encode(bytes(out))
    return _doc(b"/Filter /LZWDecode /DecodeParms "
                b"<< /Predictor 2 /Columns 16 >>", enc, b"LZW tiff pred")


EXT_FIXTURES = {
    "e01_lzw": e01_lzw,
    "e02_lzw_early0": e02_lzw_early0,
    "e03_asciihex": e03_asciihex,
    "e04_ascii85": e04_ascii85,
    "e05_runlength": e05_runlength,
    "e06_chain_ahx_flate": e06_chain_ahx_flate,
    "e07_chain_rl_flate": e07_chain_rl_flate,
    "e08_lzw_png_pred": e08_lzw_png_pred,
    "e09_lzw_tiff_pred": e09_lzw_tiff_pred,
}


def build_all() -> dict[str, bytes]:
    return {name: fn() for name, fn in EXT_FIXTURES.items()}


if __name__ == "__main__":
    import sys

    for name, data in build_all().items():
        sys.stdout.write("%s: %d bytes\n" % (name, len(data)))
