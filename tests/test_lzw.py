"""LZWDecode tests: encoder-decoder round trip with spec width switching
(EarlyChange 0 and 1) plus a known vector."""

import pytest

from pypdfproc_spark.core.filters import DecodeError, _lzw_decode, decode_stream


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Test-only encoder following the standard PDF/TIFF width convention:
    the width bumps when the decoder-visible table size (= next_code - 1,
    the decoder learns each entry one code later) plus EarlyChange reaches
    2^width — i.e. at 511/1023/2047 entries with EarlyChange=1."""
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


@pytest.mark.parametrize("early", [0, 1])
@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"A",
        b"TOBEORNOTTOBEORTOBEORNOT" * 60,
        bytes(range(256)) * 30,          # forces width growth past 10 bits
        b"a" * 5000,                      # long single-char runs (KwKwK case)
    ],
)
def test_roundtrip(payload, early):
    enc = lzw_encode(payload, early=early)
    assert _lzw_decode(enc, {"EarlyChange": early}) == payload


def test_known_vector_kwkwk():
    # hand-derived vector exercising the KwKwK case (code == next table
    # slot): codes 256(clear) 45 258 258 65 259 257(EOD) decode to
    #   45        -> '-'            (prev '-')
    #   258 KwKwK -> '--'  +table   (prev '--')
    #   258       -> '--'  +'---'   (prev '--')
    #   65        -> 'A'   +'--A'   (prev 'A')
    #   259       -> '---' +'A-'
    # = '-----A---'
    codes = [256, 45, 258, 258, 65, 259, 257]
    buf = cnt = 0
    out = bytearray()
    for c in codes:
        buf = (buf << 9) | c
        cnt += 9
        while cnt >= 8:
            out.append((buf >> (cnt - 8)) & 0xFF)
            cnt -= 8
    if cnt:
        out.append((buf << (8 - cnt)) & 0xFF)
    assert _lzw_decode(bytes(out)) == b"-----A---"


def _reference_decode(data: bytes, early: int = 1) -> bytes:
    """Independent cross-check decoder: a literal transcription of the
    pdf.js LZWStream width schedule (dictionaryLength + earlyChange ==
    512/1024/2048 -> 10/11/12 bits), structured differently from
    filters._lzw_decode on purpose."""
    bit_pos = 0
    n_bits = len(data) * 8

    def read(width):
        nonlocal bit_pos
        if bit_pos + width > n_bits:
            return None
        v = 0
        for _ in range(width):
            v = (v << 1) | ((data[bit_pos >> 3] >> (7 - (bit_pos & 7))) & 1)
            bit_pos += 1
        return v

    dict_vals = [bytes([i]) for i in range(256)] + [b"", b""]
    dict_len = 258
    width = 9
    prev = None
    out = bytearray()
    while True:
        code = read(width)
        if code is None or code == 257:
            return bytes(out)
        if code == 256:
            dict_vals = [bytes([i]) for i in range(256)] + [b"", b""]
            dict_len = 258
            width = 9
            prev = None
            continue
        if prev is None:
            entry = dict_vals[code]
        elif code < dict_len:
            entry = dict_vals[code]
            dict_vals.append(prev + entry[:1])
            dict_len += 1
        else:
            entry = prev + prev[:1]
            dict_vals.append(entry)
            dict_len += 1
        out += entry
        prev = entry
        if dict_len + early == 512:
            width = 10
        elif dict_len + early == 1024:
            width = 11
        elif dict_len + early == 2048:
            width = 12


@pytest.mark.parametrize("early", [0, 1])
def test_matches_independent_reference_decoder(early):
    # payload forces growth through the 9->10->11 bit boundaries
    payload = bytes((i * 7 + j) % 256 for i in range(40) for j in range(256))
    enc = lzw_encode(payload, early=early)
    assert _reference_decode(enc, early) == payload
    assert _lzw_decode(enc, {"EarlyChange": early}) == payload


def test_through_decode_stream():
    payload = b"stream body " * 40
    d = {"Filter": "LZWDecode"}
    assert decode_stream(d, lzw_encode(payload), extended=True) == payload


def test_garbage_raises():
    with pytest.raises(DecodeError):
        _lzw_decode(b"\xff\xff\xff\xff\xff\xff")


def test_lzw_content_stream_through_extract_document():
    """End-to-end: a PDF whose content stream is LZW-compressed extracts
    text through the full engine path in EXTENDED mode, and drops the
    page (like the reference's ValueError) in the strict default."""
    from fixtures.pdfgen import HELV, PdfFile
    from pypdfproc_spark.core.extract import extract_document

    content = b"BT /F1 12 Tf 72 720 Td (LZW works end to end) Tj ET"
    f = PdfFile()
    f.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    f.add(2, b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>")
    f.add(3, HELV)
    f.add(4, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>")
    f.add_stream(5, b"/Filter /LZWDecode", lzw_encode(content))
    data = f.build(1)

    # strict default: reference parity — the page DROPS (fixture f57)
    r = extract_document(data)
    assert r.pages == [] and r.decode_failures == 1

    # extended mode: the superset decodes it end to end
    r = extract_document(data, extended=True)
    assert r.error is None, r.error
    assert r.pages == ["\nLZW works end to end"]
    assert r.decode_failures == 0
