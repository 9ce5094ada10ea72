"""MIME / email parsing (RFC 5322 message framing, RFC 2045/2046
multipart bodies, RFC 2047 encoded-word headers) — mail archives are a
classic pretraining-corpus family, and every piece below is a
documented interop trap:

- header FOLDING (a continuation line starts with whitespace and
  belongs to the previous header),
- encoded-words in headers (`=?charset?Q?..?=` with underscore-as-
  space, and `=?charset?B?..?=` base64),
- multipart boundary framing (`--boundary` lines, the `--boundary--`
  terminator, content BETWEEN delimiters — the preamble/epilogue are
  not parts),
- per-part Content-Transfer-Encoding: quoted-printable (=HH escapes
  and `=\\r\\n` soft line breaks) and base64, both decoded for real.

Refusals follow the engine-wide contract: structural damage raises
ValueError only. Scale shape: map-only Arrow stage, one pass.
"""

from __future__ import annotations

import base64
import binascii
import re

from pyspark.sql import DataFrame

from sparkga1_spark.operators.transform import map_rows, plant_rows

_ENCODED_WORD_RE = re.compile(r"=\?([^?]+)\?([QqBb])\?([^?]*)\?=")


# --------------------------------------------------------------------------
# Building (fixture side)
# --------------------------------------------------------------------------


def _qp_encode(s: str, *, every: int = 13, phase: int = 7,
               width: int = 40) -> str:
    """Deterministic quoted-printable over the UTF-8 BYTES of s (QP is
    an octet encoding — escaping a codepoint like '€' as '=20AC' is
    structurally invalid, and mixing escaped-latin-1 with raw UTF-8
    corrupts the part; review-caught): bytes at i%every==phase are
    escaped as =HH (any octet MAY be escaped, RFC 2045 §6.7), '=',
    controls, and every non-ASCII byte are ALWAYS escaped, and a soft
    line break lands every `width` output chars — so the decoder must
    handle escapes AND unfolding."""
    out = []
    col = 0
    for i, b in enumerate(s.encode("utf-8")):
        must = b == 0x3D or b < 0x20 or b >= 0x7F
        tok = f"={b:02X}" if must or i % every == phase else chr(b)
        if col + len(tok) > width:
            out.append("=\r\n")
            col = 0
        out.append(tok)
        col += len(tok)
    return "".join(out)


def _q_encode_word(s: str) -> str:
    """RFC 2047 Q-encoding: space→underscore, non-ascii/specials →
    =HH over the UTF-8 bytes."""
    out = []
    for b in s.encode("utf-8"):
        c = chr(b)
        if c == " ":
            out.append("_")
        elif b < 128 and c.isalnum():  # ASCII alnum only: chr(0xC3) is
            out.append(c)              # "alnum" to Python but not to RFC 2047
        else:
            out.append(f"={b:02X}")
    return "=?utf-8?Q?" + "".join(out) + "?="


def build_mime(doc_id: int, text: str) -> bytes:
    """A real multipart/alternative message: encoded-word Subject
    (Q-form on even ids, B-form on odd), a FOLDED From header, a
    text/plain part carrying `text` quoted-printable-encoded, and a
    text/html part base64-encoded on ids %3==0 (7bit otherwise).
    Preamble and epilogue text is planted so a parser that treats
    everything between the first and last boundary-ish line as parts
    breaks."""
    subject = f"Doc {doc_id} résumé"
    enc_subject = (
        _q_encode_word(subject)
        if doc_id % 2 == 0
        else "=?utf-8?B?" + base64.b64encode(subject.encode()).decode() + "?="
    )
    boundary = f"----=_bnd_{doc_id}"
    html_body = f"<p>{text}</p>"
    if doc_id % 3 == 0:
        html_cte = "base64"
        html_payload = base64.b64encode(html_body.encode()).decode()
        # RFC 2045: base64 lines capped at 76 chars
        html_payload = "\r\n".join(
            html_payload[i : i + 76] for i in range(0, len(html_payload), 76)
        )
    else:
        html_cte = "7bit"
        html_payload = html_body
    return (
        f"From: Crawl Bot\r\n <bot@src{doc_id % 20}.example.com>\r\n"
        f"To: corpus@example.com\r\n"
        f"Subject: {enc_subject}\r\n"
        f"MIME-Version: 1.0\r\n"
        f'Content-Type: multipart/alternative; boundary="{boundary}"\r\n'
        f"\r\n"
        f"This preamble is not a part.\r\n"
        f"--{boundary}\r\n"
        f"Content-Type: text/plain; charset=utf-8\r\n"
        f"Content-Transfer-Encoding: quoted-printable\r\n"
        f"\r\n"
        f"{_qp_encode(text)}\r\n"
        f"--{boundary}\r\n"
        f"Content-Type: text/html; charset=utf-8\r\n"
        f"Content-Transfer-Encoding: {html_cte}\r\n"
        f"\r\n"
        f"{html_payload}\r\n"
        f"--{boundary}--\r\n"
        f"This epilogue is not a part either.\r\n"
    ).encode("utf-8")


# --------------------------------------------------------------------------
# Parsing (engine side)
# --------------------------------------------------------------------------


def _decode_encoded_words(value: str) -> str:
    """RFC 2047: every =?charset?Q|B?payload?= token decodes; Q-form
    maps '_' to space and =HH to the byte; B-form is base64."""

    def sub(m: re.Match) -> str:
        charset, form, payload = m.group(1).lower(), m.group(2), m.group(3)
        if charset not in ("utf-8", "us-ascii", "latin-1", "iso-8859-1"):
            raise ValueError(f"mime: unsupported encoded-word charset {charset}")
        if form in ("B", "b"):
            try:
                raw = base64.b64decode(payload, validate=True)
            except binascii.Error as exc:
                raise ValueError(f"mime: bad base64 encoded-word ({exc})") from None
        else:
            raw = bytearray()
            i = 0
            while i < len(payload):
                c = payload[i]
                if c == "_":
                    raw.append(0x20)
                    i += 1
                elif c == "=":
                    if i + 3 > len(payload):
                        raise ValueError("mime: truncated =HH in encoded-word")
                    raw.append(int(payload[i + 1 : i + 3], 16))
                    i += 3
                else:
                    raw += c.encode("ascii")
                    i += 1
            raw = bytes(raw)
        return raw.decode("utf-8" if charset == "us-ascii" else charset)

    return _ENCODED_WORD_RE.sub(sub, value)


def _parse_headers(block: bytes):
    """Header block → {name.lower(): unfolded value}. Continuation
    lines (leading whitespace) FOLD into the previous header with a
    single space (RFC 5322 §2.2.3)."""
    headers: dict[str, str] = {}
    last: str | None = None
    for raw in block.split(b"\r\n"):
        if not raw:
            continue
        line = raw.decode("utf-8", errors="replace")
        if line[0] in (" ", "\t"):
            if last is None:
                raise ValueError("mime: continuation line before any header")
            headers[last] += " " + line.strip()
            continue
        name, sep, value = line.partition(":")
        if not sep:
            raise ValueError(f"mime: malformed header line {line[:30]!r}")
        last = name.strip().lower()
        headers[last] = value.strip()
    return headers


def _qp_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c == 0x3D:  # '='
            if data[i + 1 : i + 3] == b"\r\n":
                i += 3  # soft line break
                continue
            hx = data[i + 1 : i + 3]
            if len(hx) != 2:
                raise ValueError("mime: truncated quoted-printable escape")
            try:
                out.append(int(hx.decode("ascii"), 16))
            except (UnicodeDecodeError, ValueError):
                raise ValueError("mime: bad quoted-printable escape") from None
            i += 3
            continue
        out.append(c)
        i += 1
    return bytes(out)


def _decode_body(body: bytes, cte: str) -> bytes:
    cte = cte.lower()
    if cte in ("7bit", "8bit", "binary", ""):
        return body
    if cte == "quoted-printable":
        return _qp_decode(body)
    if cte == "base64":
        try:
            return base64.b64decode(re.sub(rb"\s", b"", body), validate=True)
        except binascii.Error as exc:
            raise ValueError(f"mime: bad base64 body ({exc})") from None
    raise ValueError(f"mime: unsupported transfer encoding {cte}")


def parse_mime(data: bytes) -> dict:
    """Message bytes → subject / from / list of (content_type, decoded
    body bytes) parts. Multipart framing per RFC 2046 §5.1.1: parts
    live BETWEEN `--boundary` delimiter lines; preamble (before the
    first) and epilogue (after `--boundary--`) are discarded."""
    split = data.find(b"\r\n\r\n")
    if split < 0:
        raise ValueError("mime: no header/body separator")
    headers = _parse_headers(data[:split])
    body = data[split + 4 :]
    subject = _decode_encoded_words(headers.get("subject", ""))
    from_addr = headers.get("from", "")
    ctype = headers.get("content-type", "text/plain")
    parts: list[tuple[str, bytes, str | None]] = []
    # RFC 2045: media types and parameter NAMES are case-insensitive
    # ('Multipart/Alternative; BOUNDARY=x' is legal) — values are not
    if ctype.lower().startswith("multipart/"):
        m = re.search(r'boundary="([^"]+)"|boundary=([^;\s]+)', ctype,
                      re.IGNORECASE)
        if not m:
            raise ValueError("mime: multipart without boundary parameter")
        boundary = (m.group(1) or m.group(2)).encode()
        # RFC 2046 §5.1.1: a delimiter is CRLF + "--" + boundary AT A
        # LINE START — the same byte sequence mid-line is part DATA.
        # Prepending CRLF makes a first-line delimiter uniform, and the
        # CRLF before each delimiter belongs to the delimiter (so part
        # payloads keep their own trailing newlines exactly).
        chunks = (b"\r\n" + body).split(b"\r\n--" + boundary)
        if len(chunks) < 2 or not any(
            c.startswith(b"--") for c in chunks[1:]
        ):
            raise ValueError("mime: multipart terminator missing")
        # chunks[0] is the preamble; the terminator chunk starts '--'
        for chunk in chunks[1:]:
            if chunk.startswith(b"--"):
                break  # --boundary-- : epilogue follows, not a part
            # RFC 2046 §5.1.1 allows optional linear whitespace between
            # the boundary and its CRLF (transport padding)
            pad = re.match(rb"[ \t]*\r\n", chunk)
            if not pad:
                raise ValueError("mime: trailing bytes on a boundary line")
            part = chunk[pad.end():]
            psplit = part.find(b"\r\n\r\n")
            if psplit < 0:
                raise ValueError("mime: part without header/body separator")
            ph = _parse_headers(part[:psplit])
            pct = ph.get("content-type", "text/plain")
            cs = re.search(r'charset="?([A-Za-z0-9_\-]+)"?', pct, re.IGNORECASE)
            parts.append(
                (
                    pct.split(";")[0].strip().lower(),
                    _decode_body(
                        part[psplit + 4 :],
                        ph.get("content-transfer-encoding", "7bit"),
                    ),
                    cs.group(1).lower() if cs else None,
                )
            )
    else:
        cs = re.search(r'charset="?([A-Za-z0-9_\-]+)"?', ctype, re.IGNORECASE)
        parts.append(
            (
                ctype.split(";")[0].strip().lower(),
                _decode_body(
                    body, headers.get("content-transfer-encoding", "7bit")
                ),
                cs.group(1).lower() if cs else None,
            )
        )
    return {
        "subject": subject,
        "from": from_addr,
        "parts": parts,
    }


MIME_SCHEMA = (
    "doc_id long, subject string, from_addr string, n_parts int, "
    "plain_text string, html_len int"
)


def extract_mime(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary message → subject (encoded-words decoded), unfolded From,
    part count, the decoded text/plain body (honoring the part's
    DECLARED charset — hardcoding utf-8 mojibakes or crashes on
    latin-1 mail; review-caught), and the decoded text/html byte
    length. Map-only."""
    from sparkga1_spark.operators.crawl import decode_http_body

    def rows(doc_id, payload):
        msg = parse_mime(bytes(payload))
        plain, plain_cs = next(
            ((b, cs) for t, b, cs in msg["parts"] if t == "text/plain"),
            (b"", None),
        )
        html = next(
            (b for t, b, _cs in msg["parts"] if t == "text/html"), b""
        )
        text, _, _ = decode_http_body(
            plain,
            f"text/plain; charset={plain_cs}" if plain_cs else None,
        )
        yield (
            doc_id,
            msg["subject"],
            msg["from"],
            len(msg["parts"]),
            text,
            len(html),
        )

    return map_rows(df, rows, cols=["doc_id", payload_col], schema=MIME_SCHEMA)


def plant_mime_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): one real multipart message
    per document (see build_mime)."""
    def rows(doc_id, text):
        yield (doc_id, build_mime(int(doc_id), text or ""))

    return plant_rows(
        df, rows, cols=["doc_id", text_col], schema="doc_id long, payload binary"
    )
