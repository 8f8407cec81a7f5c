"""Stream filters: FlateDecode + PNG predictors.

Re-implements the reference's decoder surface (decoder/flate.py:8-121) from
the public PDF 1.7 / RFC 1951 / PNG specs, vectorized with numpy where the
reference used per-byte Python loops:

- FlateDecode            (reference: decoder/flate.py:8-36)
- PNG Up predictor (12)  (reference: decoder/flate.py:38-121 -- O(n) python
                          loop there; numpy cumsum here)
- plus PNG None/Sub/Average/Paeth and per-row predictor dispatch (predictor
  >= 10 means "PNG, per-row tag chooses the algorithm" per the PNG spec;
  the reference only accepts tag 2/Up).  TIFF predictor 2 is implemented for
  8-bit samples.

Unsupported filters raise UnsupportedFilterError -- the extraction pipeline
records these as decode_failures instead of crashing (north_star metric).
"""

from __future__ import annotations

import zlib

import numpy as np


class DecodeError(Exception):
    pass


class UnsupportedFilterError(DecodeError):
    pass


def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    """Undo PNG row filters.  Row layout: 1 tag byte + rowlen data bytes."""
    bpp = max(1, (colors * bpc) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    stride = rowlen + 1
    if len(data) % stride != 0:
        raise DecodeError(
            "PNG-predicted data length %d not a multiple of row stride %d"
            % (len(data), stride)
        )
    nrows = len(data) // stride
    arr = np.frombuffer(data, dtype=np.uint8).reshape(nrows, stride)
    tags = arr[:, 0]
    rows = arr[:, 1:].astype(np.int32)

    if np.all(tags == 2):
        # Pure "Up" stream (the only layout PDF writers emit for xref
        # streams, and all the reference supports): one vectorized cumsum.
        out = np.cumsum(rows, axis=0, dtype=np.int64) % 256
        return out.astype(np.uint8).tobytes()

    # General per-row dispatch (rare): still row-vectorized for Up/None.
    out = np.zeros((nrows, rowlen), dtype=np.int32)
    prev = np.zeros(rowlen, dtype=np.int32)
    for r in range(nrows):
        tag = tags[r]
        cur = rows[r]
        if tag == 0:
            res = cur
        elif tag == 1:  # Sub
            res = cur.copy()
            for c in range(bpp, rowlen):
                res[c] = (res[c] + res[c - bpp]) % 256
        elif tag == 2:  # Up
            res = (cur + prev) % 256
        elif tag == 3:  # Average
            res = cur.copy()
            for c in range(rowlen):
                left = res[c - bpp] if c >= bpp else 0
                res[c] = (res[c] + (left + prev[c]) // 2) % 256
        elif tag == 4:  # Paeth
            res = cur.copy()
            for c in range(rowlen):
                a = res[c - bpp] if c >= bpp else 0
                b = prev[c]
                cc = prev[c - bpp] if c >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                res[c] = (res[c] + pred) % 256
        else:
            raise DecodeError("unknown PNG row filter tag %d" % tag)
        out[r] = res
        prev = res
    return out.astype(np.uint8).tobytes()


def _tiff_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    if bpc != 8:
        raise UnsupportedFilterError("TIFF predictor with bpc != 8")
    rowlen = columns * colors
    if len(data) % rowlen != 0:
        raise DecodeError("TIFF-predicted data not a multiple of row length")
    arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, rowlen // colors, colors)
    out = np.cumsum(arr.astype(np.int64), axis=1) % 256
    return out.astype(np.uint8).tobytes()


def _png_up_strict(data: bytes, col: int) -> bytes:
    """Reference PNG_Up verbatim semantics (decoder/flate.py:38-121):

    - ``Columns`` is the RAW byte count per row (Colors/BitsPerComponent
      are never consulted);
    - the row-0 predictor tag is ignored entirely, rows > 0 must carry
      tag 2 or ValueError (the ``r > 0`` guard at flate.py:105-107);
    - the output buffer is ``bytearray(len(data))`` (flate.py:88) but only
      nrows*col bytes are written, so the result carries nrows TRAILING
      NUL bytes.  That padding is observable: it kills predictor-12
      content streams at the text lexer ("Bad character ord='0'", probed
      round 4) and is ignored by the count-limited xref-stream row reader.
    """
    if not isinstance(col, int):
        # reference: float/str Columns die on data[float_idx] (TypeError);
        # bool passes (int subclass) exactly as it would there
        raise DecodeError("PNG Up: non-integer Columns (reference drop)")
    stride = col + 1
    if stride <= 0 or len(data) % stride != 0:
        raise DecodeError(
            "Expected a multiple of col+1 bytes (%d) but got %d bytes "
            "(reference ValueError)" % (stride, len(data))
        )
    nrows = len(data) // stride
    arr = np.frombuffer(data, dtype=np.uint8).reshape(nrows, stride)
    if nrows > 1 and not bool(np.all(arr[1:, 0] == 2)):
        raise DecodeError(
            "PNG Up: predictor tag change after row 0 (reference ValueError)"
        )
    out = np.cumsum(arr[:, 1:].astype(np.int64), axis=0) % 256
    return out.astype(np.uint8).tobytes() + b"\x00" * nrows


def flate_decode_strict(data: bytes, parms, parms_present: bool) -> bytes:
    """The reference's exact Flate surface (pdf.py:455-469 calling
    decoder/flate.py:8-36), probed and fixture-pinned round 4:

    - no DecodeParms key  -> {'Predictor': 0} is substituted (pdf.py:462)
    - DecodeParms not a dict -> drop ('Predictor' not in Array gives the
      KeyError raise; IndirectObject gives TypeError — never resolved)
    - missing Predictor key  -> KeyError drop (flate.py:21)
    - Predictor 0 -> plain zlib output; 12 -> strict PNG Up; EVERYTHING
      else (including 1, 2, 10, 11, 13-15) -> NotImplementedError drop
    """
    try:
        uncomp = zlib.decompress(data)
    except zlib.error as e:
        raise DecodeError("zlib: %s" % e) from None
    if not parms_present:
        return uncomp
    if not isinstance(parms, dict):
        raise DecodeError(
            "DecodeParms is not a dictionary (reference KeyError/TypeError "
            "drop)"
        )
    if "Predictor" not in parms:
        raise DecodeError(
            "DecodeParms without Predictor key (reference KeyError)"
        )
    pred = parms["Predictor"]
    if pred == 0:
        return uncomp
    if pred != 12:
        raise UnsupportedFilterError(
            "Flate predictor %r not implemented by the reference "
            "(NotImplementedError drop)" % (pred,)
        )
    if "Columns" not in parms:
        raise DecodeError(
            "PNG Up without Columns (reference ValueError)"
        )
    return _png_up_strict(uncomp, parms["Columns"])


def flate_decode(data: bytes, parms: dict | None) -> bytes:
    try:
        raw = zlib.decompress(data)
    except zlib.error as e:
        raise DecodeError("zlib: %s" % e) from None
    parms = parms or {}
    pred = parms.get("Predictor", 1)
    if pred in (0, 1):
        return raw
    columns = parms.get("Columns", 1)
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    if pred == 2:
        return _tiff_unpredict(raw, columns, colors, bpc)
    if 10 <= pred <= 15:
        return _png_unpredict(raw, columns, colors, bpc)
    raise UnsupportedFilterError("unknown predictor %d" % pred)


def _ascii_hex_decode(data: bytes) -> bytes:
    body = data.split(b">")[0]
    hx = bytes(c for c in body if c not in b"\x00\t\n\x0c\r ")
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except ValueError as e:
        raise DecodeError("ASCIIHex: %s" % e) from None


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    body = data.strip()
    if body.startswith(b"<~"):
        body = body[2:]
    if body.endswith(b"~>"):
        body = body[:-2]
    try:
        return base64.a85decode(body, ignorechars=b" \t\n\r\x0c\x00")
    except ValueError as e:
        raise DecodeError("ASCII85: %s" % e) from None


def _lzw_decode(data: bytes, parms: dict | None = None) -> bytes:
    """LZWDecode per the PDF spec (variable 9-12 bit codes, clear=256,
    EOD=257, EarlyChange default 1).  Not in the reference (its decoder
    raises); implemented for real-corpus coverage — golden parity is
    unaffected because no fixture uses it."""
    parms = parms or {}
    early = parms.get("EarlyChange", 1)
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bitbuf = 0
    bitcnt = 0
    width = 9
    prev: bytes | None = None
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
            bitcnt -= width
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise DecodeError("LZW: first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise DecodeError("LZW: code %d out of range" % code)
            out += entry
            prev = entry
            # PDF/TIFF width schedule (matches pdfminer / pdf.js): the
            # decoder bumps when its table size + EarlyChange reaches
            # 2^width — i.e. at 511/1023/2047 entries with EarlyChange=1,
            # 512/1024/2048 with 0.
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _rl_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out += data[i + 1 : i + 2 + l]
            i += 2 + l
        else:
            out += data[i + 1 : i + 2] * (257 - l)
            i += 2
    return bytes(out)


# Default STRICT reference parity: the reference decodes a stream ONLY
# when its /Filter is the exact name 'FlateDecode' — an ARRAY (even
# [/FlateDecode]), the 'Fl' abbreviation, LZW/AHx/A85/RL all raise
# ValueError and drop the page (pdf.py:456-469; pinned by fixtures
# f57_lzw_strict_drop / f58_filter_array_flate).  extended=True (plumbed
# per document: extract_document(payload, extended=True) ->
# PdfDocument.extended -> StreamObj.data; the Spark pipeline passes it
# from pipeline.extract(extended_filters=True)) opts into the documented
# superset: filter chains, abbreviations, LZW, ASCIIHex/85, RunLength —
# strictly MORE documents decoded, at the cost of per-url byte parity
# with the reference on documents the reference cannot read.
def decode_stream(d: dict, raw: bytes, extended: bool = False) -> bytes:
    """Apply the (possibly chained) /Filter of a stream dictionary.

    Unsupported-by-parity filters raise UnsupportedFilterError, which the
    pipeline turns into a decode_failures metric event (and the page
    drops, like the reference's ValueError at pdf.py:469).
    """
    filt = d.get("Filter")
    if filt is None:
        return raw
    if not extended:
        if filt == "FlateDecode":
            # the reference reads ONLY the 'DecodeParms' key here — the
            # 'DP' abbreviation is object-stream-only (pdf.py:458-462)
            return flate_decode_strict(
                raw, d.get("DecodeParms"), "DecodeParms" in d
            )
        raise UnsupportedFilterError(
            "filter %r unsupported by the reference (strict parity; "
            "pass extended=True for the superset)" % (filt,)
        )
    filts = filt if isinstance(filt, list) else [filt]
    parms = d.get("DecodeParms", d.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filts)
    data = raw
    for f, p in zip(filts, parms):
        p = p if isinstance(p, dict) else {}
        if f == "FlateDecode" or f == "Fl":
            data = flate_decode(data, p)
        elif f == "ASCIIHexDecode" or f == "AHx":
            data = _ascii_hex_decode(data)
        elif f == "ASCII85Decode" or f == "A85":
            data = _ascii85_decode(data)
        elif f == "RunLengthDecode" or f == "RL":
            data = _rl_decode(data)
        elif f in ("DCTDecode", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode"):
            # image codecs: opaque payloads for the text-extraction engine
            raise UnsupportedFilterError("image filter %s" % f)
        elif f == "LZWDecode" or f == "LZW":
            data = _lzw_decode(data, p)
            pred = p.get("Predictor", 1)
            if pred not in (0, 1):
                if pred == 2:
                    data = _tiff_unpredict(
                        data, p.get("Columns", 1), p.get("Colors", 1),
                        p.get("BitsPerComponent", 8))
                elif 10 <= pred <= 15:
                    data = _png_unpredict(
                        data, p.get("Columns", 1), p.get("Colors", 1),
                        p.get("BitsPerComponent", 8))
                else:
                    raise UnsupportedFilterError("unknown predictor %d" % pred)
        elif f == "Crypt":
            raise UnsupportedFilterError("encrypted stream")
        else:
            raise UnsupportedFilterError("unknown filter %r" % f)
    return data
