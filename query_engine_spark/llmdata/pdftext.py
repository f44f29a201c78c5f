"""PDF text extraction: the document half of a web-scale training corpus
(papers, reports, scans-with-text-layer). A REAL minimal PDF parser over
the public PDF 1.4 specification (ISO 32000-1):

- trailer/`startxref` discovery from the file tail, classic xref TABLE
  parsing AND PDF 1.5+ cross-reference STREAMS (/Type /XRef: /W field
  widths, /Index subsections, FlateDecode with the PNG row predictors
  real generators emit), /Prev incremental-update chains with
  newest-wins shadowing (encrypted documents and hybrid-reference
  /XRefStm files raise honest boundaries),
- indirect-object fetch by byte offset, dictionary + stream parsing,
- OBJECT STREAMS (/Type /ObjStm): compressed non-stream objects fetched
  through the header pair table, the storage shape PDF 1.5+ writers
  use for catalogs/page dicts,
- the Pages tree walk (/Root -> /Pages -> /Kids, nested page-tree nodes),
- per-page /Contents streams (single or array), FlateDecode via stdlib
  zlib (the only filter generated PDFs actually use for text; others
  raise),
- a content-stream tokenizer for the text-showing operators Tj, ' and
  TJ (array form with kerning numbers), decoding literal strings with
  the FULL escape grammar — balanced unescaped parens, \\n \\r \\t \\b
  \\f \\( \\) \\\\, octal \\ooo, line-continuation — hex strings
  <...>, and UTF-16BE strings (BOM FE FF).

Spark shape: extraction is one map-only Arrow `mapInPandas` pass over
opaque PDF payloads — the same single-scan plan as every other codec
stage; only the extracted text statistics leave the executor.

Semantic spec for what the engine must expose: /root/reference/src/main.rs
(the reference's ingest surface); the PDF layout from the public Adobe /
ISO 32000 specification.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from query_engine_spark.llmdata.multimodal import _map_media

# --------------------------------------------------------------------------
# writer: deterministic single-font PDFs for fixtures


def _pdf_escape(s: str) -> bytes:
    """PDF literal-string escaping (spec §7.3.4.2): backslash, parens,
    and control chars; latin-1 code points as octal escapes."""
    out = bytearray()
    for ch in s:
        o = ord(ch)
        if ch == "\\":
            out += b"\\\\"
        elif ch == "(":
            out += b"\\("
        elif ch == ")":
            out += b"\\)"
        elif 32 <= o < 127:
            out.append(o)
        elif o < 256:
            out += f"\\{o:03o}".encode("ascii")
        else:
            raise ValueError(
                "non-latin-1 text needs a UTF-16BE string; use hex=True"
            )
    return bytes(out)


def _pdf_utf16_hex(s: str) -> bytes:
    """UTF-16BE hex string with BOM (spec §7.9.2.2) — how generated PDFs
    carry non-latin text."""
    return b"<" + (b"\xfe\xff" + s.encode("utf-16-be")).hex().upper().encode() + b">"


def build_pdf(pages: list[list[str]], *, compress: bool = True) -> bytes:
    """Build a real single-font PDF 1.4: catalog, pages tree, one content
    stream per page (FlateDecode when `compress`), a classic xref table
    with hand-correct byte offsets, trailer, %%EOF. Each page is a list
    of text lines; lines cycle through the three text-showing forms real
    generators emit — `(...) Tj`, a kerned `[...] TJ` array, and a
    UTF-16BE hex string — so the extractor's whole operator surface is
    exercised by every fixture."""
    objects: list[bytes] = []  # 1-indexed

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids: list[int] = []
    content_ids: list[int] = []
    for lines in pages:
        parts = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                parts.append(b"0 -14 Td")
            if k % 3 == 0:
                parts.append(b"(" + _pdf_escape(line) + b") Tj")
            elif k % 3 == 1:
                # kerned array: split the line in two around a kern number
                mid = max(1, len(line) // 2)
                parts.append(
                    b"[ ("
                    + _pdf_escape(line[:mid])
                    + b") -120 ("
                    + _pdf_escape(line[mid:])
                    + b") ] TJ"
                )
            else:
                parts.append(_pdf_utf16_hex(line) + b" Tj")
        parts.append(b"ET")
        raw = b" ".join(parts)
        if compress:
            data = zlib.compress(raw, 6)
            stream = (
                b"<< /Length " + str(len(data)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + data + b"\nendstream"
            )
        else:
            stream = (
                b"<< /Length " + str(len(raw)).encode()
                + b" >>\nstream\n" + raw + b"\nendstream"
            )
        content_ids.append(add(stream))
        page_ids.append(0)  # patched below once the pages-tree id is known
    pages_id = len(objects) + len(pages) + 1
    for i, cid in enumerate(content_ids):
        body = (
            b"<< /Type /Page /Parent " + str(pages_id).encode() + b" 0 R"
            b" /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 " + str(font).encode() + b" 0 R >> >>"
            b" /Contents " + str(cid).encode() + b" 0 R >>"
        )
        page_ids[i] = add(body)
    kids = b" ".join(str(p).encode() + b" 0 R" for p in page_ids)
    real_pages_id = add(
        b"<< /Type /Pages /Kids [ " + kids + b" ] /Count "
        + str(len(page_ids)).encode() + b" >>"
    )
    assert real_pages_id == pages_id
    catalog = add(b"<< /Type /Catalog /Pages " + str(pages_id).encode() + b" 0 R >>")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 " + str(len(objects) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(len(objects) + 1).encode()
        + b" /Root " + str(catalog).encode() + b" 0 R >>\n"
        b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


def _png_predict_up(rows: list[bytes]) -> bytes:
    """Apply the PNG Up filter (type 2) to fixed-width rows — how real
    PDF writers predictor-code xref streams (spec §7.4.4.4, LZW/Flate
    predictor 12)."""
    out = bytearray()
    prev = bytes(len(rows[0])) if rows else b""
    for row in rows:
        out.append(2)
        out += bytes((a - b) & 0xFF for a, b in zip(row, prev))
        prev = row
    return bytes(out)


def build_pdf_15(pages: list[list[str]], *, predictor: bool = True) -> bytes:
    """Build a real PDF 1.5: per-page FlateDecode content streams as
    top-level objects, every NON-stream object (font, page dicts, pages
    tree, catalog) packed into one compressed OBJECT STREAM — stored in
    reverse numeric order so only header-pair-driven readers extract
    them — and a CROSS-REFERENCE STREAM (/Type /XRef, /W [1 4 2], a
    split /Index, FlateDecode, PNG Up predictor when `predictor`)
    instead of a classic table. Page text is identical to `build_pdf`'s
    for the same input: the 1.5 container is transport."""
    npages = len(pages)
    content_bodies: list[bytes] = []
    for lines in pages:
        parts = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                parts.append(b"0 -14 Td")
            if k % 3 == 0:
                parts.append(b"(" + _pdf_escape(line) + b") Tj")
            elif k % 3 == 1:
                mid = max(1, len(line) // 2)
                parts.append(
                    b"[ (" + _pdf_escape(line[:mid]) + b") -120 ("
                    + _pdf_escape(line[mid:]) + b") ] TJ"
                )
            else:
                parts.append(_pdf_utf16_hex(line) + b" Tj")
        parts.append(b"ET")
        data = zlib.compress(b" ".join(parts), 6)
        content_bodies.append(
            b"<< /Length " + str(len(data)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + data + b"\nendstream"
        )

    # object numbering: contents 1..P, then the ObjStm members, then the
    # ObjStm itself, then the xref stream (always the last object)
    font_id = npages + 1
    page_ids = [npages + 2 + i for i in range(npages)]
    pages_id = 2 * npages + 2
    catalog_id = 2 * npages + 3
    objstm_id = 2 * npages + 4
    xref_id = 2 * npages + 5
    size = xref_id + 1

    members: list[tuple[int, bytes]] = [
        (font_id, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        (pages_id,
         b"<< /Type /Pages /Kids [ "
         + b" ".join(str(p).encode() + b" 0 R" for p in page_ids)
         + b" ] /Count " + str(npages).encode() + b" >>"),
        (catalog_id,
         b"<< /Type /Catalog /Pages " + str(pages_id).encode() + b" 0 R >>"),
    ]
    for i, pid in enumerate(page_ids):
        members.append((
            pid,
            b"<< /Type /Page /Parent " + str(pages_id).encode() + b" 0 R"
            b" /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 " + str(font_id).encode()
            + b" 0 R >> >>"
            b" /Contents " + str(i + 1).encode() + b" 0 R >>",
        ))
    # reverse numeric order: a linear or number-ordered walk reads the
    # wrong bytes; only the header pair table gives correct offsets
    members.sort(key=lambda kv: -kv[0])
    header = bytearray()
    body = bytearray()
    for onum, obody in members:
        header += str(onum).encode() + b" " + str(len(body)).encode() + b" "
        body += obody + b" "
    first = len(header)
    stm_raw = bytes(header) + bytes(body)
    stm_z = zlib.compress(stm_raw, 6)
    objstm_body = (
        b"<< /Type /ObjStm /N " + str(len(members)).encode()
        + b" /First " + str(first).encode()
        + b" /Length " + str(len(stm_z)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + stm_z + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for i, cb in enumerate(content_bodies, start=1):
        offsets[i] = len(out)
        out += str(i).encode() + b" 0 obj\n" + cb + b"\nendobj\n"
    offsets[objstm_id] = len(out)
    out += str(objstm_id).encode() + b" 0 obj\n" + objstm_body + b"\nendobj\n"
    xref_off = len(out)
    offsets[xref_id] = xref_off

    # entries in /W [1 4 2] layout; type 2 index = position in the
    # stream's (reversed) storage order, NOT the object number order
    member_index = {onum: i for i, (onum, _) in enumerate(members)}

    def entry(num: int) -> bytes:
        if num == 0:
            return b"\x00" + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")
        if num in member_index:
            return (
                b"\x02" + objstm_id.to_bytes(4, "big")
                + member_index[num].to_bytes(2, "big")
            )
        return b"\x01" + offsets[num].to_bytes(4, "big") + (0).to_bytes(2, "big")

    split = size // 2
    index = [0, split, split, size - split]
    rows = [entry(n) for n in range(size)]
    if predictor:
        data = _png_predict_up(rows)
        parms = b" /DecodeParms << /Predictor 12 /Columns 7 >>"
    else:
        data = b"".join(rows)
        parms = b""
    data_z = zlib.compress(data, 6)
    out += (
        str(xref_id).encode() + b" 0 obj\n"
        b"<< /Type /XRef /Size " + str(size).encode()
        + b" /Root " + str(catalog_id).encode() + b" 0 R"
        b" /W [1 4 2] /Index [ "
        + b" ".join(str(v).encode() for v in index)
        + b" ] /Length " + str(len(data_z)).encode()
        + b" /Filter /FlateDecode" + parms + b" >>\nstream\n"
        + data_z + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    return bytes(out)


# --------------------------------------------------------------------------
# reader


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    """Minimal PDF object lexer over a bytes window."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def skip_ws(self) -> None:
        b = self.buf
        while self.pos < len(b):
            c = b[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                while self.pos < len(b) and b[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def token(self) -> bytes:
        self.skip_ws()
        b, p = self.buf, self.pos
        if p >= len(b):
            raise ValueError("unexpected end of PDF object data")
        c = b[p]
        if c == ord("<") and p + 1 < len(b) and b[p + 1] == ord("<"):
            self.pos += 2
            return b"<<"
        if c == ord(">") and p + 1 < len(b) and b[p + 1] == ord(">"):
            self.pos += 2
            return b">>"
        if c in _DELIM:
            if c == ord("/"):
                q = p + 1
                while q < len(b) and b[q] not in _WS and b[q] not in _DELIM:
                    q += 1
                self.pos = q
                return b[p:q]
            self.pos += 1
            return b[p : p + 1]
        q = p
        while q < len(b) and b[q] not in _WS and b[q] not in _DELIM:
            q += 1
        self.pos = q
        return b[p:q]


# Real PDFs nest objects a handful of levels (ISO 32000 Annex C notes
# historical readers capped implementation limits around 28); 128 is a
# generous capacity line. Without it, a crafted '[[[[…' blows the
# recursive descent into RecursionError — an uncontracted exception the
# mutation fuzz can't reach (random flips never create deep nesting) —
# r12 review find, the recursion member of the resource-bomb class.
_MAX_OBJECT_DEPTH = 128


def _parse_object(lx: _Lexer, depth: int = 0):
    """Parse one PDF object (dict/array/name/number/string/ref/bool)."""
    if depth > _MAX_OBJECT_DEPTH:
        raise ValueError("PDF object nesting exceeds the 128-level cap")
    tok = lx.token()
    if tok == b"<<":
        d: dict[bytes, object] = {}
        while True:
            lx.skip_ws()
            if lx.buf[lx.pos : lx.pos + 2] == b">>":
                lx.pos += 2
                return d
            key = lx.token()
            if not key.startswith(b"/"):
                raise ValueError("dictionary key must be a name")
            d[key] = _parse_object(lx, depth + 1)
    if tok == b"[":
        arr: list[object] = []
        while True:
            lx.skip_ws()
            if lx.buf[lx.pos] == ord("]"):
                lx.pos += 1
                return arr
            arr.append(_parse_object(lx, depth + 1))
    if tok == b"(":
        lx.pos -= 1
        s, lx.pos = _parse_literal_string(lx.buf, lx.pos)
        return s
    if tok == b"<":
        end = lx.buf.index(b">", lx.pos)
        hexstr = bytes.fromhex(
            lx.buf[lx.pos : end].translate(None, _WS).decode("ascii")
        )
        lx.pos = end + 1
        return hexstr
    if tok.startswith(b"/") or tok in (b"true", b"false", b"null"):
        return tok
    # number, or an indirect reference "N G R"
    try:
        num = int(tok)
    except ValueError:
        try:
            return float(tok)
        except ValueError:
            return tok
    save = lx.pos
    try:
        tok2 = lx.token()
        if re.fullmatch(rb"\d+", tok2):
            tok3 = lx.token()
            if tok3 == b"R":
                return ("ref", num, int(tok2))
        lx.pos = save
    except ValueError:
        lx.pos = save
    return num


def _parse_literal_string(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Decode a ( ... ) literal string from `pos` (at the opening paren):
    balanced unescaped parens, the full escape set, octal \\ooo,
    backslash-newline continuation. Returns (raw bytes, end position)."""
    assert buf[pos] == ord("(")
    pos += 1
    depth = 1
    out = bytearray()
    esc = {
        ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8, ord("f"): 12,
        ord("("): 40, ord(")"): 41, ord("\\"): 92,
    }
    while pos < len(buf):
        c = buf[pos]
        if c == ord("\\"):
            pos += 1
            if pos >= len(buf):
                break
            c2 = buf[pos]
            if c2 in esc:
                out.append(esc[c2])
                pos += 1
            elif ord("0") <= c2 <= ord("7"):
                oct_digits = bytearray()
                while pos < len(buf) and len(oct_digits) < 3 and ord("0") <= buf[pos] <= ord("7"):
                    oct_digits.append(buf[pos])
                    pos += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif c2 in b"\r\n":  # line continuation
                pos += 1
                if c2 == ord("\r") and pos < len(buf) and buf[pos] == ord("\n"):
                    pos += 1
            else:  # spec: lone backslash is dropped
                out.append(c2)
                pos += 1
            continue
        if c == ord("("):
            depth += 1
        elif c == ord(")"):
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
        out.append(c)
        pos += 1
    raise ValueError("unterminated PDF literal string")


def _pdf_text_of(raw: bytes) -> str:
    """Decode a PDF string's bytes: UTF-16BE when BOM'd, else latin-1
    (PDFDocEncoding's printable range coincides for fixture text)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be")
    return raw.decode("latin-1")


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Undo PNG row predictors (PDF predictor >= 10; spec §7.4.4.4) on a
    1-byte-per-sample stream of `columns`-wide rows: each row leads with
    a filter byte (None/Sub/Up/Average/Paeth), left/up neighbors are the
    adjacent bytes. Xref streams are small (one row per object), so the
    scalar loop is not a throughput path."""
    stride = columns + 1
    if len(data) % stride:
        raise ValueError("predictor data is not a whole number of rows")
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(data), stride):
        ftype = data[r]
        row = bytearray(data[r + 1 : r + stride])
        for i in range(columns):
            left = row[i - 1] if i else 0
            up = prev[i]
            if ftype == 0:
                pass
            elif ftype == 1:
                row[i] = (row[i] + left) & 0xFF
            elif ftype == 2:
                row[i] = (row[i] + up) & 0xFF
            elif ftype == 3:
                row[i] = (row[i] + (left + up) // 2) & 0xFF
            elif ftype == 4:
                ul = prev[i - 1] if i else 0
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                row[i] = (row[i] + pred) & 0xFF
            else:
                raise ValueError(f"unknown PNG row filter {ftype}")
        out += row
        prev = row
    return bytes(out)


class _Pdf:
    def __init__(self, blob: bytes):
        self.buf = blob
        if not blob.startswith(b"%PDF-"):
            raise ValueError("not a PDF (missing %PDF header)")
        tail = blob[-256:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("missing startxref")
        # object number -> byte offset (int), ("objstm", num, idx), or
        # None (free/deleted — shadows older sections in /Prev chains)
        self.offsets: dict[int, object] = {}
        self.trailer: dict | None = None
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._objstm_loading: set[int] = set()
        self._load_xref(int(m.group(1)), depth=0)
        if not isinstance(self.trailer, dict):
            raise ValueError("trailer is not a dictionary")
        if b"/Encrypt" in self.trailer:
            raise NotImplementedError("encrypted PDFs not supported")

    def _load_xref(self, off: int, depth: int) -> None:
        """Load one xref section (classic table or 1.5+ stream) and
        follow its /Prev chain; newer sections win (setdefault)."""
        if depth > 32:
            raise ValueError("xref /Prev chain too deep")
        buf = self.buf
        if buf[off : off + 4] == b"xref":
            section = self._parse_xref_table(off)
            lx = _Lexer(buf, buf.index(b"trailer", off) + len(b"trailer"))
            trailer = _parse_object(lx)
            if not isinstance(trailer, dict):
                raise ValueError("trailer is not a dictionary")
            if b"/XRefStm" in trailer:
                raise NotImplementedError(
                    "hybrid-reference files (/XRefStm) not supported"
                )
        else:
            section, trailer = self._parse_xref_stream(off)
        for num, ent in section.items():
            self.offsets.setdefault(num, ent)
        if self.trailer is None:
            self.trailer = trailer
        prev = trailer.get(b"/Prev")
        if prev is not None:
            if not isinstance(prev, int) or prev < 0:
                raise ValueError("/Prev must be a byte offset")
            self._load_xref(prev, depth + 1)

    def _parse_xref_table(self, off: int) -> dict[int, object]:
        buf = self.buf
        lx = _Lexer(buf, off + 4)
        offsets: dict[int, object] = {}
        while True:
            lx.skip_ws()
            if buf[lx.pos : lx.pos + 7] == b"trailer":
                return offsets
            first = int(lx.token())
            count = int(lx.token())
            lx.skip_ws()
            for i in range(count):
                ent = buf[lx.pos : lx.pos + 20]
                if len(ent) < 18:
                    raise ValueError("truncated xref entry")
                if ent[17:18] == b"n":
                    offsets[first + i] = int(ent[0:10])
                else:
                    offsets[first + i] = None  # free: shadows /Prev
                lx.pos += 20 if ent[18:20] in (b" \n", b" \r", b"\r\n") else 19

    def _parse_xref_stream(self, off: int) -> tuple[dict[int, object], dict]:
        """PDF 1.5+ cross-reference stream (spec §7.5.8): /W field
        widths, /Index subsections, binary entries of type 0 (free),
        1 (byte offset), 2 (in an object stream)."""
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", self.buf[off : off + 64])
        if m is None:
            raise ValueError("startxref does not point at xref data")
        lx = _Lexer(self.buf, off + m.end())
        d = _parse_object(lx)
        if not isinstance(d, dict) or d.get(b"/Type") != b"/XRef":
            raise ValueError("startxref object is not a /Type /XRef stream")
        lx.skip_ws()
        data = self._stream_body(lx, d, allow_parms=True)
        if data is None:
            raise ValueError("/XRef object has no stream data")
        w = d.get(b"/W")
        if (
            not isinstance(w, list) or len(w) != 3
            or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
        ):
            raise ValueError("/W must be three small field widths")
        size = d.get(b"/Size")
        if not isinstance(size, int) or size <= 0:
            raise ValueError("/Size must be a positive integer")
        index = d.get(b"/Index", [0, size])
        if (
            not isinstance(index, list) or len(index) % 2
            or not all(isinstance(x, int) and x >= 0 for x in index)
        ):
            raise ValueError("/Index must be pairs of non-negative ints")
        stride = sum(w)
        if stride == 0 or len(data) % stride:
            raise ValueError("xref stream data does not tile its /W stride")
        runs = [(index[i], index[i + 1]) for i in range(0, len(index), 2)]
        if sum(c for _, c in runs) != len(data) // stride:
            raise ValueError("/Index counts do not match the entry data")
        section: dict[int, object] = {}
        pos = 0

        def field(width: int, default: int) -> int:
            nonlocal pos
            if width == 0:
                return default
            v = int.from_bytes(data[pos : pos + width], "big")
            pos += width
            return v

        for start, count in runs:
            for num in range(start, start + count):
                etype = field(w[0], 1)  # width-0 type defaults to 1
                f2 = field(w[1], 0)
                f3 = field(w[2], 0)
                if etype == 0:
                    section[num] = None
                elif etype == 1:
                    section[num] = f2
                elif etype == 2:
                    section[num] = ("objstm", f2, f3)
                else:
                    raise ValueError(f"unknown xref entry type {etype}")
        return section, d

    def _stream_body(self, lx: _Lexer, val: dict, *, allow_parms: bool = False):
        """If `lx` sits at a `stream` keyword, return its decoded bytes
        (else None). FlateDecode, optionally through the PNG row
        predictors of /DecodeParms — which only xref streams carry."""
        if self.buf[lx.pos : lx.pos + 6] != b"stream":
            return None
        p = lx.pos + 6
        if self.buf[p : p + 2] == b"\r\n":
            p += 2
        elif self.buf[p : p + 1] == b"\n":
            p += 1
        length = self.resolve(val.get(b"/Length"))
        if not isinstance(length, (int, float)) or int(length) < 0:
            raise ValueError("stream without a numeric /Length")
        data = self.buf[p : p + int(length)]
        filt = val.get(b"/Filter")
        if filt == b"/FlateDecode":
            # bounded (r12): /Length declares the COMPRESSED size, so
            # nothing in the file bounds the inflated output — without a
            # cap a small FlateDecode bomb (~1000:1) OOMs the executor
            from query_engine_spark.llmdata.bounds import bounded_inflate

            data = bounded_inflate(data, what="content stream")
        elif filt is not None:
            raise NotImplementedError(f"stream filter {filt!r} not supported")
        parms = val.get(b"/DecodeParms")
        if parms is not None:
            if not allow_parms:
                raise NotImplementedError(
                    "/DecodeParms on content streams not supported"
                )
            parms = self.resolve(parms)
            if not isinstance(parms, dict):
                raise ValueError("/DecodeParms is not a dictionary")
            pred = self.resolve(parms.get(b"/Predictor", 1))
            if pred == 1:
                pass
            elif isinstance(pred, int) and pred >= 10:
                cols = self.resolve(parms.get(b"/Columns", 1))
                if not isinstance(cols, int) or cols <= 0:
                    raise ValueError("/Columns must be a positive integer")
                data = _png_unpredict(data, cols)
            else:
                raise NotImplementedError(f"predictor {pred!r} not supported")
        return data

    def _objstm(self, num: int) -> dict[int, object]:
        """Parse object stream `num` (spec §7.5.7): N header pairs of
        (object number, offset past /First), then the objects."""
        cached = self._objstm_cache.get(num)
        if cached is not None:
            return cached
        if num in self._objstm_loading:
            raise ValueError("object-stream reference cycle")
        self._objstm_loading.add(num)
        try:
            d, data = self.object(num)
        finally:
            self._objstm_loading.discard(num)
        if not isinstance(d, dict) or d.get(b"/Type") != b"/ObjStm":
            raise ValueError(f"object {num} is not an /ObjStm")
        if data is None:
            raise ValueError("/ObjStm without stream data")
        if b"/Extends" in d:
            raise NotImplementedError("/ObjStm /Extends chains not supported")
        n = self.resolve(d.get(b"/N"))
        first = self.resolve(d.get(b"/First"))
        if not isinstance(n, int) or n < 0 or not isinstance(first, int) or first < 0:
            raise ValueError("/ObjStm needs integer /N and /First")
        lx = _Lexer(data, 0)
        pairs = []
        for _ in range(n):
            onum = int(lx.token())
            ooff = int(lx.token())
            pairs.append((onum, ooff))
        members: dict[int, object] = {}
        for onum, ooff in pairs:
            if first + ooff > len(data):
                raise ValueError("/ObjStm member offset past stream end")
            members[onum] = _parse_object(_Lexer(data, first + ooff))
        self._objstm_cache[num] = members
        return members

    def object(self, num: int):
        ent = self.offsets.get(num)
        if ent is None:
            raise ValueError(f"object {num} not in xref")
        if isinstance(ent, tuple):  # ("objstm", container, index)
            # the header pair table is authoritative, not the entry index
            _, snum, _idx = ent
            members = self._objstm(snum)
            if num not in members:
                raise ValueError(
                    f"object {num} not found in object stream {snum}"
                )
            return members[num], None
        off = ent
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", self.buf[off : off + 64])
        if m is None or int(m.group(1)) != num:
            raise ValueError(f"xref offset for object {num} does not point at it")
        lx = _Lexer(self.buf, off + m.end())
        val = _parse_object(lx)
        lx.skip_ws()
        if isinstance(val, dict):
            data = self._stream_body(lx, val)
            if data is not None:
                return val, data
        return val, None

    # Refs resolving to refs is legal but shallow in real PDFs; a crafted
    # cycle ('2 0 obj 3 0 R' <-> '3 0 obj 2 0 R') would otherwise spin
    # resolve() forever with NO exception — the one non-termination shape
    # the r12 recursion caps missed (ADVICE r12). 32 hops is far beyond
    # any conforming chain.
    _MAX_REF_HOPS = 32

    def resolve(self, v):
        hops = 0
        while isinstance(v, tuple) and v and v[0] == "ref":
            hops += 1
            if hops > self._MAX_REF_HOPS:
                raise ValueError("indirect reference cycle")
            v, _ = self.object(v[1])
        return v


def _page_text(content: bytes) -> str:
    """Extract text-showing operator arguments from a content stream:
    `(s) Tj`, `(s) '` and `[ ... ] TJ` (string elements concatenated,
    kern numbers skipped). Text objects separated by Td/T* boundaries
    are joined with newlines."""
    lx = _Lexer(content, 0)
    lines: list[str] = []
    cur: list[str] = []
    stack: list[object] = []
    while True:
        lx.skip_ws()
        if lx.pos >= len(content):
            break
        c = content[lx.pos]
        if c == ord("("):
            s, lx.pos = _parse_literal_string(content, lx.pos)
            stack.append(s)
            continue
        if c == ord("<") and content[lx.pos : lx.pos + 2] != b"<<":
            end = content.index(b">", lx.pos)
            stack.append(
                bytes.fromhex(
                    content[lx.pos + 1 : end].translate(None, _WS).decode("ascii")
                )
            )
            lx.pos = end + 1
            continue
        if c == ord("["):
            lx.pos += 1
            arr: list[object] = []
            while True:
                lx.skip_ws()
                if content[lx.pos] == ord("]"):
                    lx.pos += 1
                    break
                if content[lx.pos] == ord("("):
                    s, lx.pos = _parse_literal_string(content, lx.pos)
                    arr.append(s)
                elif content[lx.pos] == ord("<"):
                    end = content.index(b">", lx.pos)
                    arr.append(
                        bytes.fromhex(
                            content[lx.pos + 1 : end].translate(None, _WS).decode("ascii")
                        )
                    )
                    lx.pos = end + 1
                else:
                    # kern adjustments: numeric tokens must not survive
                    # as bytes or they would concatenate into the text
                    t = lx.token()
                    if re.fullmatch(rb"[+-]?\d+(\.\d+)?", t):
                        arr.append(float(t))
                    else:
                        raise ValueError(f"unexpected TJ array element {t!r}")
            stack.append(arr)
            continue
        tok = lx.token()
        if tok in (b"Tj", b"'"):
            if not stack or not isinstance(stack[-1], bytes):
                raise ValueError(f"{tok.decode()} without a string operand")
            cur.append(_pdf_text_of(stack.pop()))
        elif tok == b"TJ":
            if not stack or not isinstance(stack[-1], list):
                raise ValueError("TJ without an array operand")
            arr = stack.pop()
            cur.append(
                "".join(_pdf_text_of(e) for e in arr if isinstance(e, bytes))
            )
        elif tok in (b"Td", b"TD", b"T*"):
            if cur:
                lines.append("".join(cur))
                cur = []
            stack.clear()
        else:
            stack.append(tok)
    if cur:
        lines.append("".join(cur))
    return "\n".join(lines)


def extract_pdf_text(blob: bytes) -> list[str]:
    """Parse a PDF and return per-page extracted text (one string per
    page, lines joined with newlines). Handles both classic xref tables
    and PDF 1.5+ xref/object streams; raises on encrypted documents,
    hybrid-reference files, and non-Flate filters — honest boundaries
    with specific messages; silent empty-string extraction is how corpora
    fill with blank documents. Truncated object data surfaces as
    ValueError (the parser indexes untrusted bytes; a bare IndexError
    at the API boundary would read as a bug, not a bad input)."""
    try:
        return _extract_pdf_text(blob)
    except IndexError as e:
        raise ValueError("truncated PDF object data") from e


def _extract_pdf_text(blob: bytes) -> list[str]:
    pdf = _Pdf(blob)
    if not isinstance(pdf.trailer, dict):
        raise ValueError("trailer is not a dictionary")
    root = pdf.resolve(pdf.trailer.get(b"/Root"))
    if not isinstance(root, dict):
        raise ValueError("/Root is not a dictionary")
    pages_obj = pdf.resolve(root.get(b"/Pages"))
    texts: list[str] = []

    def walk(node, depth: int = 0) -> None:
        # real pages trees are a few levels deep; the cap turns both a
        # crafted deep /Kids chain (RecursionError, outside the parser
        # contract) AND a /Kids CYCLE (an ancestor reference would
        # otherwise recurse until the stack blows) into the contract
        # ValueError (r12 review find, recursion-bomb class)
        if depth > 256:
            raise ValueError("pages tree exceeds the 256-level cap")
        node = pdf.resolve(node)
        if not isinstance(node, dict):
            raise ValueError("pages-tree node is not a dictionary")
        typ = node.get(b"/Type")
        if typ == b"/Pages":
            kids = pdf.resolve(node.get(b"/Kids"))
            if not isinstance(kids, list):
                raise ValueError("/Pages node without a /Kids array")
            for kid in kids:
                walk(kid, depth + 1)
            return
        if typ != b"/Page":
            raise ValueError(f"unexpected pages-tree node {typ!r}")
        contents = node.get(b"/Contents")
        if contents is None:
            texts.append("")
            return
        refs = contents if isinstance(contents, list) else [contents]
        data = b""
        for r in refs:
            if not (isinstance(r, tuple) and r[0] == "ref"):
                raise ValueError("/Contents must be stream references")
            _, stream = pdf.object(r[1])
            if stream is None:
                raise ValueError("/Contents reference is not a stream")
            data += stream + b"\n"
        texts.append(_page_text(data))

    walk(pages_obj)
    return texts


_PDF_SCHEMA = "media_id long, pages int, chars long, fp string"


def pdf_text_features(df: DataFrame) -> DataFrame:
    """Distributed PDF text extraction (Arrow mapInPandas, map-only):
    one row per document with page count, total extracted characters,
    and the md5 of the page texts joined by form-feed — the
    corpus-ingest fingerprint the registry oracle hash-checks."""

    import hashlib

    def rows(blob):
        pages = extract_pdf_text(blob)
        joined = "\f".join(pages)
        return [(len(pages), len(joined), hashlib.md5(joined.encode("utf-8")).hexdigest())]

    return _map_media(df, _PDF_SCHEMA, rows)
