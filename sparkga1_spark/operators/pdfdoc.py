"""PDF text extraction — the other major pretraining-corpus source
format (after HTML). Built from the public PDF 1.4 spec (ISO 32000 /
the Adobe PDF Reference) only:

- body objects (`N 0 obj … endobj`), the document catalog → page tree
  → per-page /Contents reference walk,
- stream objects with /Length framing and FlateDecode (stdlib zlib,
  bounded inflate),
- the content-stream text operators: BT/ET blocks, `(string) Tj`,
  `(s) '` and `(s) "` (show-with-newline), and `[(a) -120 (b)] TJ`
  arrays, with full string-literal escape handling (\\( \\) \\\\ \\n
  \\r \\t \\b \\f, octal \\ddd, escaped newlines) and balanced
  unescaped parens (legal inside PDF strings),
- hex strings `<48656c6c6f>` with the odd-digit trailing-zero rule.

Honesty boundary: fonts, encodings beyond latin-1-mapped code points,
positioning, and image XObjects are NOT claimed — this extracts the
text operators' payload in content order, which is exactly what
pdftotext-class tools do for simple text PDFs. Damaged structure
refuses with ValueError (the dispatch contract every binary parser in
this engine follows).

Scale shape: per-document extraction is a map-only Arrow stage; at
100 TB it rides the scan like every other codec chain (multimodal
module doc). Reference parity: the 1→N / 1→1 binary transform shape
of SparkGA1's chunk processors (SparkGA1.scala:268-318).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from sparkga1_spark.operators.transform import map_rows, plant_rows

_MAX_STREAM_BYTES = 1 << 26  # 64 MiB: a Flate bomb refuses

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_REF_RE = re.compile(rb"/Contents\s+(\d+)\s+(\d+)\s+R\b")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:\s*\d+\s+\d+\s+R)+)\s*\]")
_KID_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b")
_LENGTH_INDIRECT_RE = re.compile(rb"/Length\s+\d+\s+\d+\s+R\b")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[((?:\s*\d+\s+\d+\s+R)+)\s*\]")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b")


# --------------------------------------------------------------------------
# Building (fixture side)
# --------------------------------------------------------------------------


def _pdf_escape(s: str) -> bytes:
    out = bytearray()
    for ch in s.encode("latin-1"):
        if ch in (0x28, 0x29, 0x5C):  # ( ) \
            out += b"\\" + bytes([ch])
        else:
            out.append(ch)
    return bytes(out)


def build_pdf(doc_id: int, text: str, *, flate: bool = False,
              n_pages: int = 1) -> bytes:
    """A real single-font PDF 1.4: catalog → page tree → n_pages pages,
    each with its own FlateDecode-or-plain content stream. The text is
    word-split round-robin across pages; page p shows its words via a
    mix of Tj, TJ-array, and ' operators so every text-showing form
    appears in every document. A trailing marker line carries
    parentheses and backslashes through the escape path."""
    words = (text or "").split()
    pages_words = [words[p::n_pages] for p in range(n_pages)]
    objs: dict[int, bytes] = {}
    # 1: catalog, 2: pages root, 3..: page objects, then contents, font last
    page_ids = list(range(3, 3 + n_pages))
    content_ids = list(range(3 + n_pages, 3 + 2 * n_pages))
    font_id = 3 + 2 * n_pages
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    for p, (pid, cid) in enumerate(zip(page_ids, content_ids)):
        objs[pid] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 %d 0 R >> >> >>"
            % (cid, font_id)
        )
    objs[font_id] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    body = bytearray(b"%PDF-1.4\n")
    offsets = {}
    stream_objs = {}
    for p, cid in enumerate(content_ids):
        w = pages_words[p]
        third = max(1, len(w) // 3)
        seg1, seg2, seg3 = w[:third], w[third : 2 * third], w[2 * third :]
        parts = [b"BT /F1 12 Tf 72 720 Td"]
        if seg1:
            parts.append(b"(" + _pdf_escape(" ".join(seg1)) + b") Tj")
        if seg2:
            arr = b" ".join(
                b"(" + _pdf_escape(t) + b") %d" % (-120 - i) for i, t in
                enumerate(seg2)
            )
            parts.append(b"[" + arr + b"] TJ")
        if seg3:
            parts.append(b"(" + _pdf_escape(" ".join(seg3)) + b") '")
        parts.append(
            b"(marker \\(" + str(doc_id).encode() + b"\\) p" +
            str(p).encode() + b" A\\\\B octal: \\101) Tj"
        )
        parts.append(b"ET")
        content = b"\n".join(parts)
        if flate:
            content = zlib.compress(content, 9)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(content)
        else:
            head = b"<< /Length %d >>" % len(content)
        stream_objs[cid] = head + b"\nstream\n" + content + b"\nendstream"
    for num in sorted(set(objs) | set(stream_objs)):
        offsets[num] = len(body)
        payload = stream_objs.get(num, objs.get(num))
        body += b"%d 0 obj\n" % num + payload + b"\nendobj\n"
    xref_at = len(body)
    maxnum = max(offsets)
    body += b"xref\n0 %d\n" % (maxnum + 1)
    body += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        body += b"%010d 00000 n \n" % offsets.get(num, 0)
    body += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (maxnum + 1, xref_at)
    )
    return bytes(body)


# --------------------------------------------------------------------------
# Parsing (engine side)
# --------------------------------------------------------------------------


def _scan_objects(data: bytes) -> dict[int, bytes]:
    """Sequential body scan: object number → raw object payload
    (between `obj` and `endobj`). Stream objects are framed by their
    /Length FIRST — a literal 'endobj' (or 'N 0 obj') INSIDE stream
    data must not end (or start) an object, which is exactly why the
    spec makes /Length authoritative. Damaged framing refuses."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("pdf: bad magic")
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if not m:
            break
        start = m.end()
        stream_at = data.find(b"stream", start)
        end = data.find(b"endobj", start)
        if end < 0:
            raise ValueError("pdf: object never ends")
        if 0 <= stream_at < end:
            if _LENGTH_INDIRECT_RE.search(data, start, stream_at):
                # '/Length 9 0 R' would otherwise match \d+ as 9 and
                # silently misframe the stream (review-caught): the
                # indirect form is honestly out of scope — refuse
                raise ValueError("pdf: indirect /Length not claimed")
            lm = _LENGTH_RE.search(data, start, stream_at)
            if not lm:
                raise ValueError("pdf: stream without /Length")
            body_at = stream_at + len(b"stream")
            if data[body_at : body_at + 2] == b"\r\n":
                body_at += 2
            elif data[body_at : body_at + 1] == b"\n":
                body_at += 1
            end = data.find(b"endobj", body_at + int(lm.group(1)))
            if end < 0:
                raise ValueError("pdf: object never ends")
        objs[int(m.group(1))] = data[start:end]
        pos = end + len(b"endobj")
    if not objs:
        raise ValueError("pdf: no objects")
    return objs


def _object_stream(obj: bytes) -> bytes:
    """A stream object's decoded bytes: /Length framing is authoritative
    (never 'find endstream' — embedded markers are legal), FlateDecode
    inflated with a bound."""
    at0 = obj.find(b"stream")
    if _LENGTH_INDIRECT_RE.search(obj, 0, at0 if at0 >= 0 else len(obj)):
        raise ValueError("pdf: indirect /Length not claimed")
    m = _LENGTH_RE.search(obj)
    if not m:
        raise ValueError("pdf: stream without /Length")
    at = obj.find(b"stream")
    if at < 0:
        raise ValueError("pdf: /Length without stream keyword")
    at += len(b"stream")
    if obj[at : at + 2] == b"\r\n":
        at += 2
    elif obj[at : at + 1] == b"\n":
        at += 1
    raw = obj[at : at + int(m.group(1))]
    if len(raw) != int(m.group(1)):
        raise ValueError("pdf: stream shorter than /Length")
    if b"/FlateDecode" in obj[: obj.find(b"stream")]:
        d = zlib.decompressobj()
        try:
            out = d.decompress(raw, _MAX_STREAM_BYTES)
        except zlib.error as exc:
            raise ValueError(f"pdf: corrupt Flate stream ({exc})") from None
        if d.unconsumed_tail:
            raise ValueError("pdf: Flate stream exceeds the inflate bound")
        if not d.eof:
            # a truncated deflate stream inflates silently to a prefix —
            # that is corrupt text entering the corpus, not a short read
            raise ValueError("pdf: truncated Flate stream")
        return out
    return raw


def _parse_string_at(data: bytes, i: int):
    """A PDF string literal starting at '(' → (decoded str, next pos):
    escapes, octal codes, escaped newlines, and BALANCED unescaped
    parens (legal per spec §7.3.4.2)."""
    assert data[i : i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            mapped = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
                      0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
            if e in mapped:
                out.append(mapped[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray([e])
                i += 1
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # escaped newline: line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself (spec)
                out.append(e)
                i += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return out.decode("latin-1"), i + 1
        out.append(c)
        i += 1
    raise ValueError("pdf: unterminated string literal")


def _parse_hex_string_at(data: bytes, i: int):
    end = data.find(b">", i)
    if end < 0:
        raise ValueError("pdf: unterminated hex string")
    hx = re.sub(rb"\s", b"", data[i + 1 : end])
    if len(hx) % 2:
        hx += b"0"  # odd digit count: trailing zero (spec)
    try:
        return bytes.fromhex(hx.decode()).decode("latin-1"), end + 1
    except ValueError:
        raise ValueError("pdf: non-hex digit in hex string") from None


def extract_content_text(content: bytes) -> list[str]:
    """Content-stream walk → the shown strings in order. Only text
    inside BT/ET blocks counts, and each operator consumes exactly its
    own operands: `Tj` / `'` / `\"` show the SINGLE preceding string,
    `TJ` shows the strings of the preceding [..] array (numbers are
    kerning, skipped). Strings bound to other operators — dictionary
    values, BDC property lists — are never shown."""
    out: list[str] = []
    i, n = 0, len(content)
    in_text = False
    last: str | None = None      # most recent bare string operand
    arr: list[str] | None = None  # open [..] array being collected
    closed_arr: list[str] | None = None  # the last completed array

    while i < n:
        c = content[i : i + 1]
        if c == b"(":
            s, i = _parse_string_at(content, i)
            if arr is not None:
                arr.append(s)
            else:
                last = s
            continue
        if c == b"<" and content[i : i + 2] != b"<<":
            s, i = _parse_hex_string_at(content, i)
            if arr is not None:
                arr.append(s)
            else:
                last = s
            continue
        if c == b"<":
            i += 2
            continue
        if c == b"[":
            arr = []
            i += 1
            continue
        if c == b"]":
            closed_arr, arr = arr, None
            i += 1
            continue
        if c.isalpha() or c in (b"'", b'"'):
            j = i
            while j < n and (content[j : j + 1].isalpha()
                             or content[j : j + 1] in (b"'", b'"', b"*")):
                j += 1
            op = content[i:j]
            if op == b"BT":
                in_text = True
            elif op == b"ET":
                in_text = False
            elif op == b"TJ":
                if in_text and closed_arr:
                    out.extend(closed_arr)
            elif op in (b"Tj", b"'", b'"') and in_text and last is not None:
                out.append(last)
            last, closed_arr = None, None  # operands bind to ONE operator
            i = j
            continue
        i += 1
    return out


def extract_pdf_text(data: bytes) -> tuple[str, int]:
    """PDF bytes → (text, n_pages): catalog → /Kids page walk in tree
    order, each page's /Contents stream decoded and its text operators
    extracted; strings joined by single spaces. Pages without
    /Contents contribute nothing."""
    objs = _scan_objects(data)
    root = None
    for num, obj in objs.items():
        if b"/Type /Catalog" in obj or b"/Type/Catalog" in obj:
            m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", obj)
            if not m:
                raise ValueError("pdf: catalog without /Pages")
            root = int(m.group(1))
            break
    if root is None:
        raise ValueError("pdf: no document catalog")
    pages: list[int] = []

    def walk(num: int, depth: int = 0) -> None:
        if depth > 32:
            raise ValueError("pdf: page tree too deep (cycle?)")
        obj = objs.get(num)
        if obj is None:
            raise ValueError(f"pdf: dangling page-tree reference {num}")
        kids = _KIDS_RE.search(obj)
        if kids:
            for km in _KID_REF_RE.finditer(kids.group(1)):
                walk(int(km.group(1)), depth + 1)
        elif _TYPE_PAGE_RE.search(obj):
            pages.append(num)

    walk(root)
    if not pages:
        raise ValueError("pdf: page tree holds no pages")
    texts: list[str] = []
    for pnum in pages:
        # /Contents may be a single reference OR an array of streams
        # to be concatenated in order (ISO 32000 §7.7.3.3; real
        # writers emit the array form — review-caught silent loss)
        arr = _CONTENTS_ARR_RE.search(objs[pnum])
        if arr:
            cnums = [int(km.group(1)) for km in _KID_REF_RE.finditer(arr.group(1))]
        else:
            m = _REF_RE.search(objs[pnum])
            if not m:
                continue
            cnums = [int(m.group(1))]
        for cnum in cnums:
            if cnum not in objs:
                raise ValueError(f"pdf: dangling /Contents reference {cnum}")
            texts.extend(extract_content_text(_object_stream(objs[cnum])))
    return " ".join(texts), len(pages)


PDF_TEXT_SCHEMA = "doc_id long, n_pages int, pdf_text string"


def extract_pdf_text_stage(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary PDF → (n_pages, extracted text) per document. Map-only."""

    def rows(doc_id, payload):
        text, n_pages = extract_pdf_text(bytes(payload))
        yield (doc_id, n_pages, text)

    return map_rows(df, rows, cols=["doc_id", payload_col], schema=PDF_TEXT_SCHEMA)


def plant_pdf_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a real PDF per document —
    id%3+1 pages, FlateDecode content streams on odd ids, the text
    round-robin across pages with all three text-showing operator
    forms and an escape-bearing marker line per page."""
    def rows(doc_id, text):
        d = int(doc_id)
        yield (
            doc_id,
            build_pdf(d, text or "", flate=d % 2 == 1,
                      n_pages=d % 3 + 1),
        )

    return plant_rows(
        df, rows, cols=["doc_id", text_col], schema="doc_id long, payload binary"
    )
