"""COS ("Carousel") object-system parser: bytes in, object graph out.

A from-scratch, bytes-level re-implementation of the parsing surface of the
reference (cmlburnett/pypdfproc): COS lexing (reference: parser/pdf.py:7-116),
token consolidation (parser/pdf.py:217-490), xref/trailer chain walking
(parser/__init__.py:67-183,250-306), object and object-stream loading
(parser/__init__.py:310-441,1065-1127) — collapsed into a single-pass
recursive-descent parser over ``bytes`` instead of the reference's
PLY-lexer + 7 linear consolidation passes over latin-1 ``str``.

Design notes (scale):
- the whole payload is already in memory (an Arrow binary cell); parsing
  slices it directly — no mmap/block-read machinery is needed.
- per-document object cache is a plain dict; there is no cross-document
  state, so batches parallelize embarrassingly.
"""

from __future__ import annotations

from typing import NamedTuple

from . import filters


class PdfError(Exception):
    """Any structural problem with a document (malformed, unsupported)."""


class Ref(NamedTuple):
    """Indirect object reference "objid gen R" (reference: pdf.py:193-202)."""

    objid: int
    gen: int


class LitStr:
    """Literal string ``(...)`` — raw bytes, with escaped parens already
    unescaped exactly as the reference's lexer does (parser/pdf.py:196,
    parser/text.py:329); all other escapes stay raw until draw time
    (reference defers to SplitLiteral, __init__.py:659-719)."""

    __slots__ = ("raw",)

    def __init__(self, raw: bytes):
        self.raw = raw

    def __repr__(self):
        return "LitStr(%r)" % self.raw

    def __eq__(self, other):
        return isinstance(other, LitStr) and self.raw == other.raw


class HexStr:
    """Hex string ``<...>`` — kept as the hex-digit text, like the
    reference's Hexstring (parser/pdf.py:95-100)."""

    __slots__ = ("hexdigits",)

    def __init__(self, hexdigits: str):
        self.hexdigits = hexdigits

    def __repr__(self):
        return "HexStr(%s)" % self.hexdigits

    def __eq__(self, other):
        return isinstance(other, HexStr) and self.hexdigits == other.hexdigits


class StreamObj:
    """Stream object: dictionary + raw bytes; decoded lazily and cached
    (reference: pdf.py:441-477 PDFStreamBase).  ``extended`` is the
    owning document's filter mode (filters.decode_stream)."""

    __slots__ = ("dict", "raw", "extended", "_decoded")

    def __init__(self, d: dict, raw: bytes, extended: bool):
        self.dict = d
        self.raw = raw
        self.extended = extended
        self._decoded = None

    @property
    def data(self) -> bytes:
        if self._decoded is None:
            self._decoded = filters.decode_stream(self.dict, self.raw,
                                                  self.extended)
        return self._decoded


WHITESPACE = b"\x00\t\n\x0c\r "
DELIMS = b"()<>[]{}/%"
_REGULAR = bytes(
    b for b in range(256) if b not in WHITESPACE and b not in DELIMS
)

import re as _re

# master token regex (C-speed alternation), mirroring the reference COS
# lexer's EXACT character classes (parser/pdf.py:37-107, probed r04 via
# tools/diff_fuzz.py):
#  - whitespace is ONLY [\t\n\r ] (t_WS): NUL/\x0c/\x0b are NOT folded —
#    standalone they are lexer errors, but INSIDE a name they are legal
#    name bytes (t_NAME body excludes only ()<>[]/ and the 4 ws chars, so
#    '/P\x00ges' is ONE name — f143).  '{' '}' '%' '#' are name bytes too
#    (no #-hex decoding anywhere in the reference).
#  - comments: %[^\r\n]+ is consumed, EXCEPT %%EOF which is a real token
#    (t_EOF is defined before t_COMMENT); a bare '%' before EOL matches
#    neither -> lexer error.
#  - numbers follow t_FLOAT [-+]?\d*\.\d* THEN t_INT (function order):
#    '1.2.3' lexes as floats 1.2 and .3; '.' matches FLOAT then dies in
#    float() (ValueError).
#  - keywords are LITERAL rules tried longest-first with NO word
#    boundary ('nu' lexes as keyword n + error at u); there is no generic
#    keyword class — any other bare run is a lexer error at its first
#    byte.
#  - t_NAME requires 1+ body chars: a bare '/' is a lexer error.
# Literal strings keep the manual balanced scan; leading ws/comments are
# folded into the token regex so the hot path costs ONE re.match/token.
_TOKEN_RE = _re.compile(
    rb"""
    (?:[\t\n\r ]+|%(?!%EOF)[^\r\n]+)*
    (?:
      (?P<eofm>%%EOF)
    | (?P<flt>[+-]?[0-9]*\.[0-9]*)
    | (?P<num>[+-]?[0-9]+)
    | (?P<name>/[^\t\n\r ()<>\[\]/]+)
    | (?P<dicto><<)
    | (?P<hex><[0-9A-Fa-f]+>)
    | (?P<dictc>>>)
    | (?P<arro>\[)
    | (?P<arrc>\])
    | (?P<lito>\()
    | (?P<kw>endstream|startxref|trailer|endobj|stream|false|true|null
        |xref|obj|R|n|f)
    )?
    """,
    _re.VERBOSE,
)

# Comment-EMITTING variant of the COS master regex (round 5): the
# reference lexer RETURNS comment tokens (t_COMMENT, parser/pdf.py:69-73)
# and neither ConsolidateTokens nor Convert filters them, so in every
# positionally-consumed region (xref rows, trailer startxref, object
# values, the startxref tail, the xref sniff line) a comment SHIFTS
# positions or dies in Convert ('Unknown token type') — probed r05
# (comment_in_* / tcmt_* / tail_* probes in tools/probe_r3.py).  The
# default _TOKEN_RE folds comments into whitespace, which is only valid
# for content/cmap modes (whose lexers have no comment rule / discard);
# COS-mode consumers needing reference parity use this one.
_TOKEN_RE_PDF_CMT = _re.compile(
    rb"""
    [\t\n\r ]*
    (?:
      (?P<eofm>%%EOF)
    | (?P<cmt>%(?!%EOF)[^\r\n]+)
    | (?P<flt>[+-]?[0-9]*\.[0-9]*)
    | (?P<num>[+-]?[0-9]+)
    | (?P<name>/[^\t\n\r ()<>\[\]/]+)
    | (?P<dicto><<)
    | (?P<hex><[0-9A-Fa-f]+>)
    | (?P<dictc>>>)
    | (?P<arro>\[)
    | (?P<arrc>\])
    | (?P<lito>\()
    | (?P<kw>endstream|startxref|trailer|endobj|stream|false|true|null
        |xref|obj|R|n|f)
    )?
    """,
    _re.VERBOSE,
)
_NONHEX_WS = bytes(WHITESPACE)
_HEXDIGITS = frozenset(b"0123456789abcdefABCDEF")

# Content-stream variant of the master token regex, mirroring the
# reference's PLY text lexer (parser/text.py:114-239) instead of its COS
# lexer.  Differences that are PARITY-OBSERVABLE (probed round 4):
#  - whitespace is ONLY [\t\n\r ] (t_WS, text.py:233-239): NUL and \x0c
#    are lexer errors there (t_error raise -> page drop), so they must NOT
#    be folded; they fall into the kw class and fail operator lookup.
#  - '%' starts no comment in content streams (no comment rule in
#    text.py); it is a legal NAME/keyword character.
#  - numbers follow t_FLOAT [-+]?\d*\.\d* THEN t_INT [-+]?\d+ exactly
#    (function-rule order, text.py:207-216): '12.5.6' lexes as two floats,
#    and a bare '.' matches FLOAT then dies in float() (ValueError -> page
#    drop, pinned f59).
#  - NAME body class is [^()<>\[\]/ \t\r\n]+ (text.py:218): '{' '}' '%'
#    '#' NUL \x0c are legal name bytes in content.
_TOKEN_RE_CONTENT = _re.compile(
    rb"""
    [\t\n\r ]*
    (?:
      (?P<flt>[+-]?[0-9]*\.[0-9]*)
    | (?P<num>[+-]?[0-9]+)
    | (?P<name>/[^()<>\[\]/\t\n\r ]+)
    | (?P<dicto><<)
    | (?P<hex><[^>]*>)
    | (?P<dictc>>>)
    | (?P<arro>\[)
    | (?P<arrc>\])
    | (?P<lito>\()
    | (?P<kw>[^()<>\[\]/\t\n\r ]+)
    )?
    """,
    _re.VERBOSE,
)


# CMap variant, mirroring parser/cmap.py exactly: its own keyword set
# (PostScript scaffolding words are TOKENS, longest-first, no generic
# run class — unknown runs are t_error), comments are %[^\r\n]* with no
# %%EOF carve-out AND are RETURNED as tokens (t_COMMENT returns t,
# cmap.py:117-122 — a comment INSIDE a bfchar/bfrange section hits
# BuildMapper's 'Unrecognized token' raise, probed r05
# cmap_cmt_in_bfchar), '(' and ')' are plain LIT_START/LIT_END tokens
# (there is NO literal-content rule: string bodies must lex as other
# tokens or they die), FLOAT before INT, CODE = <hex+> strict.
_TOKEN_RE_CMAP = _re.compile(
    rb"""
    [\t\n\r ]*
    (?:
      (?P<cmt>%[^\r\n]*)
    | (?P<flt>[+-]?[0-9]*\.[0-9]*)
    | (?P<num>[+-]?[0-9]+)
    | (?P<name>/[^\t\n\r ()<>\[\]/]+)
    | (?P<hex><[0-9A-Fa-f]+>)
    | (?P<dicto><<)
    | (?P<dictc>>>)
    | (?P<arro>\[)
    | (?P<arrc>\])
    | (?P<kw>begincodespacerange|endcodespacerange|begincidrange
        |endcidrange|beginbfrange|endbfrange|beginbfchar|endbfchar
        |defineresource|findresource|currentdict|begincmp|endcmp
        |CMapName|begin|end|dict|def|cmap|pop|dup|[()])
    )?
    """,
    _re.VERBOSE,
)


class Scanner:
    """Single-pass tokenizer over bytes.

    Token kinds: 'int' 'float' 'name' 'lit' 'hex' 'dict<' 'dict>' 'arr<'
    'arr>' 'kw' (bare keyword: obj endobj stream endstream R true false null
    xref trailer startxref n f or any content operator) 'eof'.
    """

    __slots__ = ("data", "pos", "_re")

    def __init__(self, data: bytes, pos: int = 0, content: bool = False,
                 cmap: bool = False, pdf_comments: bool = False):
        self.data = data
        self.pos = pos
        # content=True swaps in the reference text-lexer's character
        # classes (_TOKEN_RE_CONTENT); cmap=True the cmap lexer's
        # (_TOKEN_RE_CMAP); COS parsing keeps the COS lexer's classes.
        # pdf_comments=True emits ('cmt', text) tokens like the reference
        # PLY lexer does (t_COMMENT returns its token) — required wherever
        # token POSITIONS carry meaning (see _TOKEN_RE_PDF_CMT note).
        self._re = (_TOKEN_RE_CONTENT if content
                    else _TOKEN_RE_CMAP if cmap
                    else _TOKEN_RE_PDF_CMT if pdf_comments else _TOKEN_RE)

    def peek_token(self):
        save = self.pos
        tok = self.next_token()
        self.pos = save
        return tok

    def next_token(self):
        # group text is fetched by m[m.lastindex] (the matched branch's
        # index — no branch has nested capture groups) instead of by name:
        # named lookup pays a groupindex dict hop per call, and this
        # function is the hottest leaf of the whole extractor.  Branch
        # order is frequency-descending (num/kw dominate both COS and
        # content token streams); order is dispatch-only — `kind` is
        # decided by the regex, so semantics are unchanged.
        data, n = self.data, len(self.data)
        m = self._re.match(data, self.pos)
        kind = m.lastgroup  # the pattern always matches (WS* + optional tok)
        if kind is not None:
            self.pos = m.end()
            if kind == "num":
                text = m[m.lastindex].decode("latin-1")
                isfloat = "." in text
                try:
                    return ("float", float(text)) if isfloat else ("int", int(text))
                except ValueError:
                    raise PdfError(
                        "malformed number %r at %d" % (text, m.start("num"))
                    ) from None
            if kind == "kw":
                return ("kw", m[m.lastindex].decode("latin-1"))
            if kind == "name":
                return ("name", m[m.lastindex][1:].decode("latin-1"))
            if kind == "flt":
                # content-mode only: reference t_FLOAT (text.py:207-211);
                # float('.') / float('-.') raise there and kill the page
                text = m[m.lastindex].decode("latin-1")
                try:
                    return ("float", float(text))
                except ValueError:
                    raise PdfError(
                        "malformed number %r at %d (reference t_FLOAT "
                        "ValueError)" % (text, m.start("flt"))
                    ) from None
            if kind == "eofm":
                # %%EOF is a real token in the reference (t_EOF precedes
                # t_COMMENT); in a value position the parser rejects it
                # exactly like the reference's consolidation does
                return ("kw", "%%EOF")
            if kind == "cmt":
                # reference t_COMMENT: value is the text minus the '%'
                return ("cmt", m[m.lastindex][1:].decode("latin-1"))
            if kind == "dicto":
                return ("dict<", None)
            if kind == "dictc":
                return ("dict>", None)
            if kind == "hex":
                body = m[m.lastindex][1:-1]
                # reference parity: EVERY reference lexer requires
                # <[0-9A-Fa-f]+> — non-empty, hex digits only, no
                # whitespace (parser/pdf.py:95, parser/text.py:221,
                # parser/cmap.py:111); anything else is a lexer error
                # (t_error raise), NOT a lenient strip
                if not body or any(c not in _HEXDIGITS for c in body):
                    raise PdfError(
                        "malformed hex string at %d" % m.start("hex")
                    )
                return ("hex", HexStr(body.decode("latin-1")))
            if kind == "arro":
                return ("arr<", None)
            if kind == "arrc":
                return ("arr>", None)
            # 'lito': rewind to '('; the balanced scan below consumes it
            self.pos = m.start(m.lastindex)  # 'lito': rewind to '('
        else:
            self.pos = m.end()  # whitespace/comments only
        i = self.pos
        if i >= n:
            return ("eof", None)

        b = data[i]
        if b == 0x28:  # '(' literal string: balanced-paren scan
            # Replicates the reference's backslash-run parity rule
            # (parser/text.py:293-333): a paren is escaped iff preceded by an
            # odd number of backslashes.
            depth = 1
            j = i + 1
            start = j
            while j < n and depth > 0:
                c = data[j]
                if c in b"()":
                    k = j - 1
                    backs = 0
                    while k >= 0 and data[k] == 0x5C:
                        backs += 1
                        k -= 1
                    if backs % 2 == 0:
                        depth += 1 if c == 0x28 else -1
                j += 1
            if depth != 0:
                raise PdfError("unterminated literal string at %d" % i)
            raw = data[start : j - 1].replace(b"\\(", b"(").replace(b"\\)", b")")
            self.pos = j
            return ("lit", LitStr(raw))

        if b == 0x3C:  # '<' -> '<<' or hex string
            if i + 1 < n and data[i + 1] == 0x3C:
                self.pos = i + 2
                return ("dict<", None)
            j = i + 1
            while j < n and data[j] != 0x3E:
                j += 1
            if j >= n:
                raise PdfError("unterminated hex string at %d" % i)
            body = data[i + 1 : j]
            # strict reference rule: see the regex-path comment above
            if not body or any(c not in _HEXDIGITS for c in body):
                raise PdfError("malformed hex string at %d" % i)
            self.pos = j + 1
            return ("hex", HexStr(body.decode("latin-1")))

        if b == 0x3E:  # '>' -> '>>'
            if i + 1 < n and data[i + 1] == 0x3E:
                self.pos = i + 2
                return ("dict>", None)
            raise PdfError("lone '>' at %d" % i)

        if b == 0x5B:
            self.pos = i + 1
            return ("arr<", None)
        if b == 0x5D:
            self.pos = i + 1
            return ("arr>", None)

        if 0x30 <= b <= 0x39 or b in b"+-.":
            j = i
            if data[j] in b"+-":
                j += 1
            isfloat = False
            while j < n and (0x30 <= data[j] <= 0x39 or data[j] == 0x2E):
                if data[j] == 0x2E:
                    isfloat = True
                j += 1
            text = data[i:j].decode("latin-1")
            self.pos = j
            try:
                if isfloat:
                    return ("float", float(text))
                return ("int", int(text))
            except ValueError:
                raise PdfError("malformed number %r at %d" % (text, i)) from None

        # bare keyword / operator run.  CONTENT mode only: the text lexer
        # has a generic operator class.  In COS mode every valid keyword
        # was already matched by the literal alternation in _TOKEN_RE, so
        # any run reaching here is a reference t_error (pdf.py:102-104) —
        # raise at the first byte exactly like PLY does (diff_fuzz r04:
        # 'åndobj' after a flipped bit must kill the object load, not
        # lex as an unknown keyword that a scan-to-endobj tolerates).
        if self._re is not _TOKEN_RE_CONTENT:
            raise PdfError("unexpected byte 0x%02x at %d" % (b, i))
        j = i
        while j < n and data[j] in _REGULAR:
            j += 1
        if j == i:
            raise PdfError("unexpected byte 0x%02x at %d" % (b, i))
        self.pos = j
        return ("kw", data[i:j].decode("latin-1"))


class Parser:
    """Recursive-descent value parser (replaces the reference's
    ConsolidateTokens passes + TokenHelpers.Convert,
    parser/pdf.py:217-490 + parser/__init__.py:1225-1309)."""

    def __init__(self, data: bytes, pos: int = 0, doc: "PdfDocument|None" = None,
                 pdf_comments: bool = False):
        self.sc = Scanner(data, pos, pdf_comments=pdf_comments)
        self.doc = doc
        # set when the post-value lex-to-endobj tail contained a COMMENT
        # token: harmless for most reference handlers (they index
        # value[2][0] / [1]), but _ParseDictionary Converts the WHOLE
        # inner token list, so indirect RESOURCE sub-dict loads die
        # (probed r05 tcmt_resource_dict vs tcmt_catalog/page/font)
        self.tail_comment = False

    def parse_value(self, tok=None):
        if tok is None:
            tok = self.sc.next_token()
        kind, val = tok
        if kind in ("lit", "hex", "name", "float"):
            return val
        if kind == "int":
            # lookahead for "INT INT R" indirect reference
            save = self.sc.pos
            t2 = self.sc.next_token()
            if t2[0] == "int":
                t3 = self.sc.next_token()
                if t3 == ("kw", "R"):
                    return Ref(val, t2[1])
            self.sc.pos = save
            return val
        if kind == "arr<":
            out = []
            while True:
                t = self.sc.next_token()
                if t[0] == "arr>":
                    return out
                if t[0] == "eof":
                    raise PdfError("unterminated array")
                out.append(self.parse_value(t))
        if kind == "dict<":
            items = []
            while True:
                t = self.sc.next_token()
                if t[0] == "dict>":
                    break
                if t[0] == "eof":
                    raise PdfError("unterminated dictionary")
                items.append(self.parse_value(t))
            # odd item count -> pad with null, as the reference does
            # (parser/pdf.py:373-379)
            if len(items) % 2:
                items.append(None)
            return {items[k]: items[k + 1] for k in range(0, len(items), 2)}
        if kind == "kw":
            if val == "true":
                return True
            if val == "false":
                return False
            if val == "null":
                return None
            raise PdfError("unexpected keyword %r" % val)
        raise PdfError("unexpected token %r" % (tok,))

    def parse_indirect_object(self):
        """Parse "objid gen obj <value> [stream...endstream] endobj" starting
        at the current position.  Returns (objid, gen, value)."""
        t1 = self.sc.next_token()
        t2 = self.sc.next_token()
        t3 = self.sc.next_token()
        if t1[0] != "int" or t2[0] != "int" or t3 != ("kw", "obj"):
            raise PdfError("expected 'objid gen obj', got %r %r %r" % (t1, t2, t3))
        objid, gen = t1[1], t2[1]
        val = self.parse_value()
        t = self.sc.next_token()
        if t == ("kw", "stream"):
            if not isinstance(val, dict):
                raise PdfError("stream without dictionary")
            data = self.sc.data
            i = self.sc.pos
            # skip single EOL after 'stream' (reference: parser/pdf.py:152-156)
            if i < len(data) and data[i] == 0x0D:
                i += 1
            if i < len(data) and data[i] == 0x0A:
                i += 1
            length = val.get("Length")
            if isinstance(length, Ref):
                if self.doc is None:
                    raise PdfError("indirect /Length with no document context")
                length = self.doc.get(length)
            # reference parity (pinned by f65-f67): /Length is trusted
            # VERBATIM — exactly that many bytes are yanked
            # (parser/pdf.py:147-170), a missing/non-int Length KeyErrors
            # (parser/__init__.py:401), and a wrong value strands the
            # lexer mid-stream where the next token is garbage -> raise.
            # There is NO scan-for-endstream recovery in the reference.
            if not isinstance(length, int) or length < 0:
                raise PdfError("stream /Length missing or invalid")
            raw = data[i : i + length]
            self.sc.pos = min(i + length, len(data))
            t = self.sc.next_token()
            if t != ("kw", "endstream"):
                raise PdfError("expected endstream, got %r" % (t,))
            val = StreamObj(val, raw,
                            self.doc is not None and self.doc.extended)
            t = self.sc.next_token()
        # Reference parity (diff_fuzz r04): _LoadObject tokenizes FORWARD
        # until a literal endobj token, IGNORING extra well-formed tokens
        # after the value — but any byte that fails to lex before that
        # endobj kills the object load (a corrupted 'endobj' itself is
        # such a byte).  Lexing to end-of-data without finding endobj is
        # tolerated (f68).  COMMENT tokens here are tolerated by the
        # positional handlers (tcmt_* probes r05) but recorded for the
        # _ParseDictionary-intolerant resource path (see __init__).
        while t != ("kw", "endobj") and t[0] != "eof":
            if t[0] == "cmt":
                self.tail_comment = True
            t = self.sc.next_token()
        return objid, gen, val


# -----------------------------------------------------------------------------
# xref / trailer chain


def _eol(data: bytes, pos: int) -> int:
    """Offset of the next line terminator at/after ``pos`` (or -1).

    Reference parity (betterfile.py readline, probed r05 cr_xref_region):
    a FORWARD line ends at the first bare \\r or \\n — and the CRLF peek
    comparison there is int-vs-bytes and never true, so \\r\\n reads as a
    CR line end followed by an EMPTY line at the \\n (callers advancing
    one byte past the terminator reproduce that empty line)."""
    r = data.find(b"\r", pos)
    n = data.find(b"\n", pos)
    if r == -1:
        return n
    if n == -1:
        return r
    return r if r < n else n


def _collect_lines(data: bytes, pos: int, stop, include_stop: bool,
                   what: str):
    """Line collection EXACTLY like the reference's readline loops
    (parser/__init__.py:250-305): each line decoded latin-1 and
    str.rstrip()ed (UNICODE whitespace — a stray NBSP at a row's end
    vanishes, diff_fuzz r04/f17-flip34), collected until ``stop(line)``;
    EOF first is a doc-level error.  Returns (joined_bytes,
    stop_line_offset) — joined with \\r\\n like the reference."""
    lines = []
    scan = pos
    n = len(data)
    while True:
        if scan >= n:
            raise PdfError("reached EOF before %s was read" % what)
        le = _eol(data, scan)  # \r OR \n ends a line (betterfile, r05)
        if le == -1:
            le = n
        line = data[scan:le].decode("latin-1").rstrip()
        if stop(line):
            if include_stop:
                lines.append(line)
            break
        lines.append(line)
        scan = le + 1
    return "\r\n".join(lines).encode("latin-1"), scan


def _tokens_of(buf: bytes, comments: bool = False):
    """Eager tokenization of a collected region, like the reference's
    TokenizeString with NO streamlength context: lexer errors raise, and
    a 'stream' keyword raises (pdf.py:151 NeedStreamLegnthError).
    comments=True emits ('cmt', …) tokens like the reference lexer —
    required when the caller consumes tokens POSITIONALLY."""
    sc = Scanner(buf, pdf_comments=comments)
    toks = []
    while True:
        t = sc.next_token()
        if t[0] == "eof":
            return toks
        if t == ("kw", "stream"):
            raise PdfError(
                "stream token in xref/trailer region (reference "
                "NeedStreamLegnthError)")
        toks.append((t, sc.pos))


def _parse_xref_table(data: bytes, pos: int):
    """Parse a plaintext xref section at ``pos``.  Returns
    (entries, trailer_dict, startxref_token, trailer_offset).

    Reference parity:
    - line-based region collection with per-line unicode rstrip
      (ParseXRef_plaintext/ParseTrailer readline loops) — the rows
      region runs to the first line starting with 'trailer', the trailer
      region to the first line that IS '%%EOF' (each trailer requires
      its own %%EOF line; junk gluing onto it keeps the scan going and
      the junk gets lexed — diff_fuzz r04/f10-flip34);
    - both regions are EAGERLY tokenized (garbage anywhere in them dies,
      'stream' keywords die with no streamlength context);
    - ONLY THE FIRST subsection's rows are consumed (pinned f63): later
      subsections tokenize but never load.
    """
    rows_buf, trailer_off = _collect_lines(
        data, pos, lambda ln: ln.startswith("trailer"), False, "xref")
    # comments are TOKENS (r05): one in the subsection header or within
    # the first subsection's 3-stride rows breaks the positional checks
    # below exactly like Convert_XRef's 'Expected INT … found COMMENT'
    rows_toks = [t for t, _ in _tokens_of(rows_buf, comments=True)]
    if not rows_toks or rows_toks[0] != ("kw", "xref"):
        raise PdfError("expected 'xref' at %d" % pos)
    if len(rows_toks) < 3 or rows_toks[1][0] != "int" \
            or rows_toks[2][0] != "int":
        raise PdfError("malformed xref subsection header")
    first, count = rows_toks[1][1], rows_toks[2][1]
    entries = []  # (objid, gen, offset, in_use)
    k3 = 3
    for k in range(count):
        try:
            o, g, f = rows_toks[k3], rows_toks[k3 + 1], rows_toks[k3 + 2]
        except IndexError:
            raise PdfError("truncated xref rows") from None
        if o[0] != "int" or g[0] != "int" or f[0] != "kw" or f[1] not in "nf":
            raise PdfError("malformed xref row")
        entries.append((first + k, g[1], o[1], f[1] == "n"))
        k3 += 3
    # anything after the first subsection was tokenized above and is
    # ignored (f63)

    trailer_buf, _ = _collect_lines(
        data, trailer_off, lambda ln: ln == "%%EOF", True, "trailer")
    ttoks = _tokens_of(trailer_buf, comments=True)
    if not ttoks or ttoks[0][0] != ("kw", "trailer"):
        raise PdfError("expected 'trailer'")
    p = Parser(trailer_buf, ttoks[0][1], pdf_comments=True)
    trailer = p.parse_value()
    if not isinstance(trailer, dict):
        raise PdfError("trailer is not a dictionary")
    # Reference Convert_Trailer mirror (parser/__init__.py:1281-1309,
    # probed r05): the trailer token's value runs from after 'trailer' to
    # the FIRST %%EOF token INCLUSIVE, and startxref is read PURELY
    # POSITIONALLY as value[2] = the 2nd token after the dict —
    #   · 'startxref INT'       -> INT (the normal case)
    #   · fewer than 2 tokens   -> IndexError -> doc dies
    #     (so a trailer with no startxref dies EVEN IF /Prev exists,
    #      probed chain_prev_no_sxr)
    #   · comment shifts it     -> value[2] is 'startxref' (a str) ->
    #     seek/compare TypeError -> doc dies (chain_comment_before_sxr)
    #   · bare ints 'A B'       -> B is followed as the next offset
    #     (chain_bare_ints_zero/junk)
    rest = [t for t, endpos in ttoks if endpos > p.sc.pos]
    for k, t in enumerate(rest):
        if t == ("kw", "%%EOF"):
            rest = rest[: k + 1]
            break
    if len(rest) < 2:
        raise PdfError(
            "trailer has no startxref tokens (reference Convert_StartXRef "
            "IndexError)")
    sxr_tok = rest[1]
    return entries, trailer, sxr_tok, trailer_off


def _usable_offset(v, what: str) -> int:
    """Validate a next-xref offset exactly as the reference's use of it
    does: a non-int (str/float/Ref/token tuple …) dies at `offset > 0`
    or file.seek (TypeError), a negative int dies at seek (OSError) —
    all doc-level (probed r05 chain_comment_before_sxr /
    chain_negative_sxr).  bool passes: file.seek(True) == seek(1)."""
    if not isinstance(v, int):
        raise PdfError(
            "%s is not a usable xref offset: %r (reference seek/compare "
            "TypeError)" % (what, v))
    if v < 0:
        raise PdfError("%s is negative: %d (reference seek OSError)"
                       % (what, v))
    return v


def _xref_stream_rows(stm: StreamObj):
    """Decode an xref stream (reference: pdf.py:599-660) into
    (objid, type, f2, f3) rows.

    Reference parity (pinned by f64): only Index[0:2] is read — the
    reference's StreamRows uses Index[0] as the start and Index[1] as the
    row count (pdf.py:623-625), so a multi-part /Index's later parts
    never load and their objects are unfindable."""
    d = stm.dict
    w = d["W"]
    if len(w) != 3:
        raise PdfError("xref stream /W must have 3 entries")
    size = d.get("Size")
    index = d.get("Index", [0, size])
    data = stm.data
    rowsize = sum(w)
    rows = []
    off = 0

    def field(width, off):
        v = 0
        for k in range(width):
            v = (v << 8) | data[off + k]
        return v

    for part in range(0, min(len(index), 2), 2):
        start, count = index[part], index[part + 1]
        for k in range(count):
            if off + rowsize > len(data):
                raise PdfError("xref stream truncated")
            # reference parity (pdf.py:632-645, pinned by f61): the type
            # field is unpacked from W[0] bytes, so W[0] == 0 yields type
            # 0 (FREE) for every row — NOT the spec's implicit type 1 —
            # and the whole document dies with its objects unfindable
            f1 = field(w[0], off)
            f2 = field(w[1], off + w[0])
            f3 = field(w[2], off + w[0] + w[1])
            rows.append((start + k, f1, f2, f3))
            off += rowsize
    return rows


class PdfDocument:
    """Parsed PDF document over an in-memory payload.

    Replaces the reference's PDF/PDFTokenizer pair (pdf.py:13-138 +
    parser/__init__.py:40-183): header parse, startxref discovery (tail
    scan), xref/trailer incremental-update chain (newest wins), object map,
    parse-once object cache.
    """

    def __init__(self, data: bytes, extended: bool = False):
        self.data = data
        # filter mode of every stream parsed from this document; set
        # before the xref walk, which already decodes xref streams
        self.extended = extended
        self.version = self._parse_header()
        self.objmap: dict[tuple[int, int], object] = {}
        self.cache: dict[tuple[int, int], object] = {}
        self.trailer: dict = {}
        # every xref/trailer combo in walk order (newest first), as
        # ('table'|'stream', dict): FindRootObject falls back through the
        # chain when the newest lacks /Root (parser/__init__.py:444-472,
        # deep diff_fuzz r05) — see catalog()
        self.trailer_combos: list[tuple[str, dict]] = []
        self._objstm_cache: dict[int, tuple] = {}
        self._tail_cmt: set[tuple[int, int]] = set()
        self._walk_xref_chain()

    def _parse_header(self) -> str:
        # Reference ParseHeader (parser/__init__.py:189-210): the FIRST
        # LINE (any of \r/\n ends it — betterfile readline) is decoded
        # latin-1 and str.split() (UNICODE whitespace), and parts[0] must
        # start with '%PDF-': leading NBSP/tab/space on line one is
        # ACCEPTED (deep diff_fuzz r05), an empty first line IndexErrors,
        # and any junk before %PDF- dies.
        eol = _eol(self.data, 0)
        line = self.data[: eol if eol != -1 else len(self.data)]
        parts = line.decode("latin-1").split()
        if not parts or not parts[0].startswith("%PDF-"):
            raise PdfError("not a PDF (missing %PDF- header)")
        return parts[0].split("-")[1]

    def _find_startxref(self) -> int:
        # Reference parity (parser/__init__.py:85-97, probed r05
        # tail_glued_comment): lines are read BACKWARD from EOF until one
        # that latin-1-decodes and unicode-rstrips to EXACTLY
        # 'startxref' — a glued 'startxref 123' line is skipped and an
        # EARLIER exact line wins; none by BOF is a doc-level failure.
        data = self.data
        scan_end = len(data)
        while True:
            # readlinerev splits on bare \r too, and consumes \r\n as
            # ONE terminator in reverse (betterfile.py:94-130, probed r05
            # cr_tail) — unlike the forward reader's CRLF bug
            r = data.rfind(b"\r", 0, scan_end)
            n = data.rfind(b"\n", 0, scan_end)
            nl = r if r > n else n
            line = data[nl + 1 : scan_end]
            if line.decode("latin-1").rstrip() == "startxref":
                pos = nl + 1
                break
            if nl < 0:
                raise PdfError("startxref not found (reverse scan hit BOF)")
            if data[nl] == 0x0A and nl > 0 and data[nl - 1] == 0x0D:
                scan_end = nl - 1
            else:
                scan_end = nl
        # The reference lexes the collected lines AFTER decoding latin-1
        # and unicode-RSTRIPPING each (readlinerev loop, joined \r\n): a
        # trailing NBSP/NEL on any tail line vanishes before the lexer
        # ever sees it (diff_fuzz r05 nbsp mutants on f133/f142) — so
        # build the same rstripped region instead of lexing raw bytes.
        region_lines = []
        k = pos
        nd = len(data)
        while k < nd:
            le = _eol(data, k)
            if le == -1:
                le = nd
                nxt = nd
            elif data[le] == 0x0D and le + 1 < nd and data[le + 1] == 0x0A:
                nxt = le + 2  # reverse-reader semantics: \r\n is ONE break
            else:
                nxt = le + 1
            region_lines.append(data[k:le].decode("latin-1").rstrip())
            k = nxt
        region = "\r\n".join(region_lines).encode("latin-1")
        # tokens are checked POSITIONALLY like Initialize's toks[0..2]
        # (xref_start, INT, EOF) — comments are real tokens here, so a
        # comment line between startxref and the offset dies (probed r05
        # tail_comment_between)
        sc = Scanner(region, 0, pdf_comments=True)
        t = sc.next_token()  # 'startxref'
        t = sc.next_token()
        if t[0] != "int":
            raise PdfError("startxref offset missing (got %r)" % (t,))
        t3 = sc.next_token()
        if t3 != ("kw", "%%EOF"):
            # reference parity (pinned by f62): the third token must be
            # the %%EOF marker — displaced/missing is a DOC-level failure
            raise PdfError("%%EOF marker missing after startxref")
        # Reference parity (diff_fuzz r04): the tail parse tokenizes
        # EVERYTHING from the found startxref line to EOF with no
        # streamlength context (parser/__init__.py:84-106 + pdf.py:151),
        # so remnants after %%EOF — e.g. a truncated incremental update —
        # are lexed too: a 'stream' keyword raises NeedStreamLegnthError
        # there, unlexable bytes raise, and the consolidation pass dies
        # on an unbalanced dict/array.  Recovering to the previous
        # snapshot would be nicer; the reference does not.
        depth = 0
        while True:
            tk = sc.next_token()
            if tk[0] == "eof":
                break
            if tk == ("kw", "stream"):
                raise PdfError(
                    "stream token in startxref tail (reference "
                    "NeedStreamLegnthError)")
            if tk[0] in ("dict<", "arr<"):
                depth += 1
            elif tk[0] in ("dict>", "arr>"):
                depth -= 1
        if depth > 0:
            raise PdfError("unbalanced dict/array in startxref tail")
        return t[1]

    def _walk_xref_chain(self) -> None:
        offset = self._find_startxref()
        seen = set()
        newest_trailer_set = False
        while offset != 0 and offset not in seen:
            seen.add(offset)
            if offset >= len(self.data):
                raise PdfError("xref offset beyond EOF")
            # Sniff EXACTLY like the reference (parser/__init__.py:212-237,
            # diff_fuzz r04): read the single LINE at the offset and
            # tokenize it — ONLY a line of exactly "INT INT obj" is an
            # xref stream (the header must sit alone on its line; a
            # leading blank line or any other shape routes to the
            # plaintext path).  The plaintext path then requires a line
            # starting with 'trailer' somewhere ahead (the reference
            # collects lines until it; EOF first is a doc-level error) —
            # so an offset shifted into whitespace before an xref-stream
            # object dies instead of being whitespace-folded.
            eol = _eol(self.data, offset)
            line = self.data[offset: eol if eol != -1 else len(self.data)]
            # the reference decodes latin-1 and str.strip()s — UNICODE
            # whitespace, BOTH ends (parser/__init__.py:221): a trailing
            # NBSP/NEL on the sniffed line vanishes (probed r05
            # sniff_nbsp_xref / sniff_nel_xref)
            line = line.decode("latin-1").strip().encode("latin-1")
            lsc = Scanner(line, pdf_comments=True)
            ltoks = []
            while True:
                lt = lsc.next_token()  # garbage on the line raises, like
                if lt[0] == "eof":     # the reference's TokenizeString
                    break
                ltoks.append(lt)
            # a COMMENT on the line is a 4th token -> NOT a stream
            # (probed r05 sniff_comment_objline: plaintext path, which
            # then dies hunting a 'trailer' line)
            is_stream = (
                len(ltoks) == 3
                and ltoks[0][0] == "int"
                and ltoks[1][0] == "int"
                and ltoks[2] == ("kw", "obj")
            )
            if not is_stream:
                scan = offset
                while True:
                    if scan >= len(self.data):
                        raise PdfError(
                            "reached EOF before xref was read")
                    le = _eol(self.data, scan)
                    if le == -1:
                        le = len(self.data)
                    if self.data[scan:le].startswith(b"trailer"):
                        break
                    scan = le + 1
            t = ("kw", "xref") if not is_stream else None
            if t == ("kw", "xref"):
                entries, trailer, sxr_tok, trailer_off = _parse_xref_table(
                    self.data, offset)
                # reference AddContentToMap also records the TRAILER's
                # offset, and the bottom-of-loop break tests membership
                # against BOTH (parser/__init__.py:130-176)
                seen.add(trailer_off)
                for objid, gen, off, in_use in entries:
                    key = (objid, gen)
                    if in_use and key not in self.objmap:
                        self.objmap[key] = off
                if not newest_trailer_set:
                    self.trailer = trailer
                    newest_trailer_set = True
                self.trailer_combos.append(("table", trailer))
                # Reference parity (probed r04, f117): the reference has NO
                # hybrid-file support — a trailer's /XRefStm key is never
                # read (parser/__init__.py:95-160 walks only /Prev), so
                # objects indexed solely by the hybrid stream stay
                # unfindable and the doc dies.  Was a silent superset here.
                #
                # Reference parity (probed r05, chain_sxr_fork): when
                # /Prev is ABSENT the reference follows the trailer's own
                # startxref value (parser/__init__.py:149 `offset =
                # t.startxref.offset`), stopping only when that offset was
                # already visited or is 0 — a no-/Prev trailer whose
                # startxref points at an unvisited section loads MORE
                # objects.  Setting offset=0 here was a silent subset.
                if "Prev" in trailer:
                    offset = _usable_offset(trailer["Prev"], "Prev")
                else:
                    sk, sv = sxr_tok
                    offset = _usable_offset(
                        sv if sk == "int" else sxr_tok, "trailer startxref")
            else:
                # comment-emitting like every reference _LoadObject path:
                # a comment inside the xref stream's dict dies in the
                # NeedStreamLength replay Convert (diff_fuzz r05)
                p = Parser(self.data, offset, doc=self, pdf_comments=True)
                _, _, stm = p.parse_indirect_object()
                if not isinstance(stm, StreamObj):
                    raise PdfError("xref offset does not point at xref data")
                for objid, typ, f2, f3 in _xref_stream_rows(stm):
                    if typ == 0:
                        continue
                    if typ == 1:
                        key = (objid, f3)  # f3 = generation
                        if key not in self.objmap:
                            self.objmap[key] = f2
                    elif typ == 2:
                        key = (objid, 0)  # compressed objects are gen 0
                        if key not in self.objmap:
                            self.objmap[key] = ("objstm", f2, f3)
                    else:
                        raise PdfError("unknown xref stream row type %d" % typ)
                if not newest_trailer_set:
                    self.trailer = dict(stm.dict)
                    newest_trailer_set = True
                self.trailer_combos.append(("stream", stm.dict))
                # xref-stream branch: no startxref fallback — absent /Prev
                # means done (parser/__init__.py:127-131)
                if "Prev" in stm.dict:
                    offset = _usable_offset(stm.dict["Prev"], "Prev")
                else:
                    offset = 0
        if not self.trailer:
            raise PdfError("no trailer found")
        # Reference parity (probed r04, f135-f136): /Encrypt is IGNORED —
        # the reference has no decryption code and no fast-fail either, so
        # a really-encrypted doc just page-drops as its garbage streams
        # fail to lex, while a broken producer that sets /Encrypt on
        # plaintext streams EXTRACTS normally.  The previous doc-level
        # fast-fail here was a silent superset (wrong text on the
        # plaintext case, wrong metrics shape on the garbage case).

    # ------------------------------------------------------------------
    # object access

    def get(self, ref):
        """Load an object by Ref (cached; reference GetObject,
        parser/__init__.py:416-441)."""
        if not isinstance(ref, Ref):
            return ref
        key = (ref.objid, ref.gen)
        if key in self.cache:
            return self.cache[key]
        loc = self.objmap.get(key)
        if loc is None:
            raise PdfError("object %d %d not in xref" % key)
        if isinstance(loc, int):
            p = Parser(self.data, loc, doc=self, pdf_comments=True)
            # reference parity (diff_fuzz r04): _LoadObject parses
            # whatever sits at the xref offset and NEVER validates the
            # 'N G obj' header ids against the row that led here — a
            # corrupted header id still loads (f17 dup_mid)
            _objid, _gen, val = p.parse_indirect_object()
            if p.tail_comment:
                self._tail_cmt.add(key)
        else:
            _, stm_oid, idx = loc
            val = self._load_from_objstm(stm_oid, idx)
        self.cache[key] = val
        return val

    def resolve_resource_dict(self, v):
        """Resolve a Resource ATTRIBUTE value (/Font /XObject /ExtGState
        …) like the reference's Resource loader (parser/__init__.py:
        817-821): an indirect value goes through GetDictionary, whose
        _ParseDictionary Converts the WHOLE inner token list — so a
        trailing COMMENT in that object (harmless everywhere else) kills
        the load here (probed r05 tcmt_resource_dict)."""
        if isinstance(v, Ref):
            out = self.resolve(v)
            if (v.objid, v.gen) in self._tail_cmt:
                raise PdfError(
                    "comment token in resource dictionary object %d %d "
                    "(reference _ParseDictionary Convert death)"
                    % (v.objid, v.gen))
            return out
        return self.resolve(v)

    def _load_from_objstm(self, stm_oid: int, idx: int):
        """Load object #idx from object stream (reference:
        parser/__init__.py:1065-1127, but parsed positionally instead of by
        token-lexpos slicing).

        Reference parity (r05): Process() eagerly TOKENIZES the whole
        stream (a lexer error or 'stream' keyword anywhere kills every
        access) and eagerly slices+consolidates, but CONVERT runs only
        when a given object is loaded — so a COMMENT (or other
        Convert-fatal token) inside one inner object kills only loads of
        THAT object (probed r05 objstm_cmt), not its siblings.  Hence:
        eager full-body lex, lazy per-index value parse."""
        entry = self._objstm_cache.get(stm_oid)
        if entry is None:
            stm = self.get(Ref(stm_oid, 0))
            if not isinstance(stm, StreamObj):
                raise PdfError("object stream %d is not a stream" % stm_oid)
            n = stm.dict["N"]
            first = stm.dict["First"]
            body = stm.data
            # eager full-body lex = reference Process TokenizeString
            # (no streamlength context: 'stream' raises), recording each
            # token's true start position (PLY lexpos) for the window
            # slicing below
            esc = Scanner(body, pdf_comments=True)
            toks = []  # (tok, lexpos)
            blen = len(body)
            ws = b"\t\n\r "
            while True:
                p0 = esc.pos
                while p0 < blen and body[p0] in ws:
                    p0 += 1
                esc.pos = p0
                et = esc.next_token()
                if et[0] == "eof":
                    break
                if et == ("kw", "stream"):
                    raise PdfError(
                        "stream token inside object stream (reference "
                        "NeedStreamLegnthError)")
                toks.append((et, p0))
            hdr = Scanner(body, pdf_comments=True)
            pairs = []
            for _ in range(n):
                o = hdr.next_token()
                off = hdr.next_token()
                # Reference: Tokens[0:2N].value with NO type check
                # (parser/__init__.py:1091-1093) — the oid is never used
                # for lookup (access is by list index) so ANY token kind
                # passes there; the offset only needs First+off
                # arithmetic, so ints AND floats work (float lexpos
                # windows compare fine — probed r05 f172) while a
                # non-numeric offset TypeErrors in Process and kills
                # every access (== this raise).
                if off[0] not in ("int", "float") or o[0] == "eof":
                    raise PdfError("malformed object stream index")
                pairs.append((o[1], off[1]))
            # Reference window semantics (parser/__init__.py:1094-1116,
            # pinned f96): each index entry's tokens are sliced by lexpos
            # in [First+off_k, First+off_{k+1} - 1] IN LIST ORDER (final
            # window ends at len(stream)-1), and consolidation runs
            # EAGERLY per window — a DICT_START whose DICT_END falls
            # outside the window raises 'Did not find end of dictionary'
            # and kills every access to this object stream.  (Arrays are
            # silently truncated by the reference's Array consolidation —
            # no eager death — which our byte-ranged lazy parse below
            # approximates by hitting end-of-window bytes instead.)
            bounds = [first + off for _, off in pairs] + [blen]
            for k in range(len(pairs)):
                s, e = bounds[k], bounds[k + 1] - 1
                depth = 0
                for et, lp in toks:
                    if lp < s or lp > e:
                        continue
                    if et[0] == "dict<":
                        depth += 1
                    elif et[0] == "dict>" and depth > 0:
                        depth -= 1
                if depth > 0:
                    raise PdfError(
                        "object stream window %d cuts a dictionary "
                        "(reference 'Did not find end of dictionary')" % k)
            entry = (body, first, pairs, {})
            self._objstm_cache[stm_oid] = entry
        body, first, pairs, parsed = entry
        if idx < 0 or idx >= len(pairs):
            raise PdfError("object stream %d has no index %d" % (stm_oid, idx))
        if idx not in parsed:
            # ceil for float offsets: the reference's token-slice keeps
            # tokens whose integer lexpos >= First+off, which for a
            # fractional boundary is the next integer position
            import math

            p = Parser(body, int(math.ceil(first + pairs[idx][1])),
                       doc=self, pdf_comments=True)
            parsed[idx] = p.parse_value()
        return parsed[idx]

    def resolve(self, v):
        """Chase indirect references (single level)."""
        while isinstance(v, Ref):
            v = self.get(v)
        return v

    # ------------------------------------------------------------------
    # document structure

    def catalog(self) -> dict:
        # Reference FindRootObject (parser/__init__.py:444-472): walk the
        # combo chain NEWEST->OLDEST until a trailer carries /Root — an
        # incremental update whose newest trailer lost the key still
        # resolves via an older one (deep diff_fuzz r05, f10 NUL-in-/Root
        # mutant).  Quirk mirrored as fail-fast: a STREAM-type combo
        # without /Root never advances x in the reference (no x = x.prev
        # in that branch) -> infinite loop; we die with a typed error
        # instead (same observable: no text).
        root = None
        for kind, tdict in self.trailer_combos:
            if "Root" in tdict:
                root = tdict["Root"]
                break
            if kind == "stream":
                raise PdfError(
                    "xref-stream combo without /Root (reference "
                    "FindRootObject loops forever)")
        if root is None:
            raise PdfError("trailer has no /Root")
        cat = self.resolve(root)
        if not isinstance(cat, dict):
            raise PdfError("/Root is not a dictionary")
        return cat

    def pages(self) -> list[dict]:
        """Ordered leaf pages via DFS of the page tree (reference:
        pdf.py:522-538 DFSPages)."""
        cat = self.catalog()
        root = self.resolve(cat.get("Pages"))
        if not isinstance(root, dict):
            raise PdfError("catalog /Pages missing")
        out: list[dict] = []
        self._dfs(root, out, depth=0)
        return out

    def _dfs(self, node: dict, out: list, depth: int) -> None:
        if depth > 64:
            raise PdfError("page tree too deep (cycle?)")
        for kid in self.resolve(node.get("Kids")) or []:
            k = self.resolve(kid)
            if not isinstance(k, dict):
                raise PdfError("page tree kid is not a dictionary")
            t = k.get("Type")
            if t == "Page":
                out.append(k)
            elif t == "Pages":
                self._dfs(k, out, depth + 1)
            else:
                raise PdfError("unexpected page-tree node type %r" % t)

    def page_content(self, page: dict) -> bytes:
        """Concatenated decoded content streams for a page.  Array contents
        are joined with a single b' ' exactly like the reference
        (__init__.py:312-325)."""
        cts = self.resolve(page.get("Contents"))
        if cts is None:
            # reference parity (probed r04, f122): page.Contents is None ->
            # '.Stream' AttributeError -> the page DROPS; it does not
            # render as an empty page
            raise PdfError("page has no /Contents")
        if isinstance(cts, list):
            parts = []
            for c in cts:
                c = self.resolve(c)
                if not isinstance(c, StreamObj):
                    raise PdfError("content array entry is not a stream")
                parts.append(c.data)
            return b" ".join(parts)
        if not isinstance(cts, StreamObj):
            raise PdfError("page /Contents is not a stream")
        return cts.data
