"""Web-crawl ingestion: WARC record parsing and HTML main-text
extraction — the access path a 100 TB LLM-pretraining corpus actually
arrives through (Common Crawl ships WARC; its payloads are HTML).

Every stage is a plain per-row function on the transform.py row
boundary (`map_rows`; fixture planters use `plant_rows`), over opaque
binary / string columns, map-only end to end: at cluster scale they
ride the scan partitioning (one pass, no shuffle) and feed straight
into the existing quality / dedup / curation operators.

Format knowledge is public-spec only:
- WARC/1.0–1.1 (ISO 28500): version line, named headers, the
  Content-Length framed block, the CRLF CRLF record separator, and
  the `.warc.gz` convention of one gzip MEMBER per record (a reader
  that gunzips the whole file as one stream cannot random-access
  records; a reader that assumes one member per FILE reads only the
  first record — the parser here walks members explicitly).
- HTTP/1.1 message framing (status line, headers, CRLF CRLF body
  split) for the application/http payload blocks.
- HTML tokenization rules every real extractor needs: quoted '>' in
  attributes, <script>/<style> raw-text elements (their content is
  NOT markup — a '</p>' inside a JS string must not close anything),
  character/entity references, and block-level segmentation with
  link-density boilerplate scoring (Kohlschütter-style density rule,
  public literature).

Reference parity: the reference engine's chunk→records flatMap
(SparkGA1.scala:268-318, the X-1 shape) is the same 1→N binary
expansion; WARC records here play the role FASTQ chunks play there.
"""

from __future__ import annotations

import hashlib
import re
import zlib

from pyspark.sql import DataFrame

from sparkga1_spark.operators.transform import map_rows, plant_rows

__all__ = [
    "build_warc",
    "parse_warc",
    "plant_warc_payloads",
    "parse_warc_records",
    "warc_response_payloads",
    "build_html",
    "extract_html",
    "extract_links",
    "extract_page_meta",
    "extract_page_meta_stage",
    "html_link_edges",
    "plant_html_payloads",
    "plant_pages_with_base",
    "extract_html_text",
    "resolve_url",
    "parse_robots",
    "robots_allowed",
    "robots_gate",
    "plant_robots_fixture",
    "decode_http_body",
    "transcode_http_bodies",
    "plant_encoded_bodies",
    "extract_main_text_stage",
    "build_sitemap",
    "parse_sitemap",
    "parse_sitemaps_stage",
    "plant_sitemap_payloads",
    "extract_image_pairs",
    "image_pairs_stage",
    "build_gallery_html",
    "plant_gallery_pages",
]

_CRLF = b"\r\n"
_WARC_VERSIONS = (b"WARC/1.0", b"WARC/1.1")
_WARCINFO_BLOCK = b"software: sparkga1-spark/1.0\r\n"


# --------------------------------------------------------------------------
# WARC building (fixture side)
# --------------------------------------------------------------------------


def _warc_uuid(seed: str) -> str:
    h = hashlib.md5(seed.encode()).hexdigest()
    return f"urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _warc_record(rec_type: str, block: bytes, *, seed: str,
                 target_uri: str | None = None,
                 content_type: str = "application/warc-fields") -> bytes:
    headers = [
        b"WARC/1.0",
        f"WARC-Type: {rec_type}".encode(),
        f"WARC-Record-ID: <{_warc_uuid(seed)}>".encode(),
        b"WARC-Date: 2026-08-15T00:00:00Z",
    ]
    if target_uri is not None:
        headers.append(f"WARC-Target-URI: {target_uri}".encode())
    headers.append(f"Content-Type: {content_type}".encode())
    headers.append(f"Content-Length: {len(block)}".encode())
    return _CRLF.join(headers) + _CRLF * 2 + block + _CRLF * 2


def build_warc(doc_id: int, source: str, text: str, *,
               gzip_members: bool = False,
               html_body: bytes | None = None) -> bytes:
    """One WARC file for a crawled host: a warcinfo record, then
    (request, response) pairs for doc_id%3+1 fetches of
    https://{source}.example.com/doc/{doc_id}/{r}. Response r carries
    body `{text} r{r}` (or html_body for every fetch when given) and
    status 404 on (doc_id+r)%5==0, 200 otherwise. gzip_members writes
    the `.warc.gz` convention: each record its own gzip member,
    concatenated."""
    host = f"{source}.example.com"
    records = [_warc_record("warcinfo", _WARCINFO_BLOCK, seed=f"{doc_id}/info")]
    for r in range(doc_id % 3 + 1):
        uri = f"https://{host}/doc/{doc_id}/{r}"
        req = (
            f"GET /doc/{doc_id}/{r} HTTP/1.1\r\n"
            f"Host: {host}\r\n"
            "User-Agent: sparkga1-crawler\r\n\r\n"
        ).encode()
        records.append(
            _warc_record("request", req, seed=f"{doc_id}/{r}/req",
                         target_uri=uri,
                         content_type="application/http;msgtype=request")
        )
        status, reason = (404, "Not Found") if (doc_id + r) % 5 == 0 else (200, "OK")
        body = html_body if html_body is not None else f"{text} r{r}".encode()
        resp = (
            f"HTTP/1.1 {status} {reason}\r\n"
            "Content-Type: text/html\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        records.append(
            _warc_record("response", resp, seed=f"{doc_id}/{r}/resp",
                         target_uri=uri,
                         content_type="application/http;msgtype=response")
        )
    if not gzip_members:
        return b"".join(records)
    out = bytearray()
    for rec in records:
        co = zlib.compressobj(9, zlib.DEFLATED, 31)  # gzip wrapper, no mtime
        out += co.compress(rec) + co.flush()
    return bytes(out)


# --------------------------------------------------------------------------
# WARC parsing (engine side)
# --------------------------------------------------------------------------


_MAX_MEMBER_BYTES = 1 << 26  # 64 MiB per record: a gzip bomb refuses


def _gzip_members(data: bytes) -> list[bytes]:
    """Concatenated gzip members → one bytes blob per member, walked by
    feeding each decompressobj FIXED-SIZE memoryview chunks and locating
    member boundaries from eof + unused_data WITHIN the current chunk.
    The former one-shot form handed the whole remaining buffer to every
    member's decompressobj and re-materialized the tail via
    `unused_data` — O(members × bytes) copying that turned a 36 MB
    125k-member WARC into 323 s of tail copies (measured, r8 100×
    ingest smoke; this form parses the same blob in seconds). Inflation
    stays bounded per member and corrupt streams surface as ValueError
    only (zlib.error would kill the executor task at the dispatch
    layer)."""
    out: list[bytes] = []
    mv = memoryview(data)
    n = len(data)
    pos = 0
    chunk_len = 1 << 20
    while pos < n:
        if data[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError("warc: junk between gzip members")
        d = zlib.decompressobj(wbits=47)  # gzip-or-zlib header autodetect +32
        parts: list[bytes] = []
        produced = 0
        mpos = pos
        while True:
            if mpos >= n:
                raise ValueError("warc: truncated gzip member")
            chunk = mv[mpos : mpos + chunk_len]
            try:
                piece = d.decompress(chunk, _MAX_MEMBER_BYTES + 1 - produced)
            except zlib.error as exc:
                raise ValueError(f"warc: corrupt gzip member ({exc})") from None
            parts.append(piece)
            produced += len(piece)
            if produced > _MAX_MEMBER_BYTES:
                raise ValueError("warc: gzip member exceeds the inflate bound")
            if d.eof:
                out.append(b"".join(parts))
                pos = mpos + (len(chunk) - len(d.unused_data))
                break
            mpos += len(chunk)
    return out


def _parse_one_record(data: bytes, pos: int):
    """Parse the record starting at pos → (record dict, next pos).
    Framing is strict: version line, header lines to the blank line,
    exactly Content-Length block bytes, then the CRLF CRLF separator."""
    head_end = data.find(_CRLF * 2, pos)
    if head_end < 0:
        raise ValueError("warc: record header never terminates")
    lines = data[pos:head_end].split(_CRLF)
    if lines[0] not in _WARC_VERSIONS:
        raise ValueError(f"warc: bad version line {lines[0][:20]!r}")
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        k, sep, v = ln.partition(b":")
        if not sep:
            raise ValueError("warc: malformed header line")
        headers[k.strip().decode().lower()] = v.strip().decode()
    try:
        clen = int(headers["content-length"])
    except (KeyError, ValueError):
        raise ValueError("warc: missing or non-integer Content-Length") from None
    if clen < 0:
        # a negative length can alias block_end back INTO the header and
        # pass the separator check by coincidence — refuse explicitly
        raise ValueError("warc: negative Content-Length")
    block_start = head_end + 4
    block_end = block_start + clen
    if data[block_end : block_end + 4] != _CRLF * 2:
        raise ValueError("warc: record separator missing after block")
    rec = {
        "rec_type": headers.get("warc-type", ""),
        "target_uri": headers.get("warc-target-uri"),
        "content_type": headers.get("content-type", ""),
        "block": data[block_start:block_end],
    }
    return rec, block_end + 4


def _split_http(rec: dict) -> None:
    """application/http blocks → status (responses only) + body. The
    head/body split is the first CRLF CRLF; a block without one
    refuses rather than guessing a zero-length body."""
    block = rec["block"]
    if not rec["content_type"].startswith("application/http"):
        rec["http_status"] = None
        rec["payload"] = block
        return
    split = block.find(_CRLF * 2)
    if split < 0:
        raise ValueError("warc: http block has no header/body split")
    head, body = block[:split], block[split + 4 :]
    first = head.split(_CRLF, 1)[0].decode(errors="replace")
    if first.startswith("HTTP/"):
        parts = first.split(" ")
        if len(parts) < 2 or not parts[1].isdigit():
            raise ValueError(f"warc: bad status line {first!r}")
        rec["http_status"] = int(parts[1])
    else:
        rec["http_status"] = None  # request
    rec["payload"] = body


def parse_warc(data: bytes) -> list[dict]:
    """WARC bytes (plain or gzip-member) → list of record dicts with
    rec_type / target_uri / http_status / payload / compressed. In the
    gzip path every member must hold exactly one record — the
    `.warc.gz` random-access contract."""
    compressed = data[:2] == b"\x1f\x8b"
    records = []
    if compressed:
        for member in _gzip_members(data):
            rec, nxt = _parse_one_record(member, 0)
            if nxt != len(member):
                raise ValueError("warc: gzip member holds more than one record")
            records.append(rec)
    else:
        pos = 0
        while pos < len(data):
            rec, pos = _parse_one_record(data, pos)
            records.append(rec)
    for rec in records:
        _split_http(rec)
        rec["compressed"] = compressed
    return records


WARC_RECORD_SCHEMA = (
    "doc_id long, rec_index int, rec_type string, target_uri string, "
    "http_status int, payload_len long, compressed boolean"
)


def parse_warc_records(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary WARC → one row per record (1→N flatMap): type, target
    URI, HTTP status (responses), payload byte length, and whether the
    source was gzip-per-record. Map-only Arrow stage."""

    def rows(doc_id, payload):
        for i, rec in enumerate(parse_warc(bytes(payload))):
            yield (
                doc_id,
                i,
                rec["rec_type"],
                rec["target_uri"],
                rec["http_status"],
                len(rec["payload"]),
                rec["compressed"],
            )

    return map_rows(df, rows, cols=["doc_id", payload_col], schema=WARC_RECORD_SCHEMA)


def warc_response_payloads(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary WARC → (doc_id, target_uri, http_status, body) for the
    HTTP 200 response records only — the crawl→curation handoff."""

    def rows(doc_id, payload):
        for rec in parse_warc(bytes(payload)):
            if rec["rec_type"] == "response" and rec["http_status"] == 200:
                yield (doc_id, rec["target_uri"], rec["http_status"],
                       rec["payload"])

    return map_rows(
        df, rows, cols=["doc_id", payload_col],
        schema="doc_id long, target_uri string, http_status int, body binary",
    )


def plant_warc_payloads(df: DataFrame, *, html_bodies: bool = False) -> DataFrame:
    """(doc_id, text, source) → (doc_id, payload): one WARC file per
    document — odd ids written gzip-per-record. html_bodies swaps the
    plain-text response bodies for real HTML pages (build_html)."""
    def rows(doc_id, text, source):
        d = int(doc_id)
        body = build_html(d, text or "").encode() if html_bodies else None
        yield (
            doc_id,
            build_warc(d, source, text or "",
                       gzip_members=d % 2 == 1, html_body=body),
        )

    return plant_rows(
        df, rows, cols=["doc_id", "text", "source"],
        schema="doc_id long, payload binary",
    )


# --------------------------------------------------------------------------
# HTML building (fixture side)
# --------------------------------------------------------------------------


def _entity_encode_positions(s: str) -> str:
    """Deterministically re-express some characters as character
    references (decimal at i%14==3, hex at the other i%7==3 sites) —
    lossless, so extraction must decode them to reproduce the
    original text exactly."""
    out = []
    for i, c in enumerate(s):
        if i % 7 == 3:
            out.append(f"&#{ord(c)};" if i % 14 == 3 else f"&#x{ord(c):x};")
        else:
            out.append(c)
    return "".join(out)


def build_html(doc_id: int, text: str) -> str:
    """A realistic page around the document text: head with title
    (named entities), style + script raw-text (with markup-looking
    strings inside), a nav link block, an h1, the text split over
    three <p> blocks (the middle one entity-encoded), a link-only div
    (boilerplate by link density), and a footer."""
    words = (text or "").split()
    a, b = len(words) // 3, 2 * len(words) // 3
    p1, p2, p3 = " ".join(words[:a]), " ".join(words[a:b]), " ".join(words[b:])
    extra = " ".join(
        f'<a href="/n{k}">nav{k}</a>' for k in range(doc_id % 3)
    )
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>doc &quot;{doc_id}&quot;</title>"
        f'<meta property="og:title" content="OG doc {doc_id}">'
        f'<meta name="description" content="summary &amp; notes {doc_id % 9}">'
        f'<link rel="canonical" href="/doc/{doc_id}/canonical">'
        "<style>p { color: #000; } a > span { display: none; }</style>"
        '<script type="text/javascript">var s = "</p><p>not content</p>"; '
        'if (s < "x") { s = s + "&amp;"; }</script>'
        "</head><body>"
        f'<nav><a href="/home">home</a> '
        f'<a href="/about?a=1&amp;b=2" title="x>y">about</a> {extra}</nav>'
        f"<h1>heading {doc_id}</h1>"
        f"<p>{p1}</p><p>{_entity_encode_positions(p2)}</p><p>{p3}</p>"
        '<div><a href="/buy">buy</a> <a href="/now">now</a></div>'
        f"<footer>copyright {1990 + doc_id % 30} footer-{doc_id % 5}</footer>"
        "</body></html>"
    )


# --------------------------------------------------------------------------
# HTML extraction (engine side)
# --------------------------------------------------------------------------

_NAMED_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'", "nbsp": " ",
}
_ENTITY_RE = re.compile(r"&(#x[0-9a-fA-F]+|#[0-9]+|[a-zA-Z]+);")

_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)

_BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 div li blockquote td article section pre".split()
)
_DROP_CONTAINERS = frozenset("nav footer header aside".split())
_RAW_TEXT = frozenset(("script", "style"))
_LINK_DENSITY_MAX = 0.8


def _decode_entities(s: str) -> str:
    def cp_or_replacement(cp: int) -> str:
        # HTML spec: out-of-range, surrogate, and NUL references decode
        # to U+FFFD — a crash here (chr ValueError) or a lone surrogate
        # (pyarrow refuses it) would kill the whole Arrow batch for one
        # bad entity on one page (review-caught)
        if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return "\ufffd"
        return chr(cp)

    def sub(m: re.Match) -> str:
        e = m.group(1)
        if e.startswith("#x") or e.startswith("#X"):
            return cp_or_replacement(int(e[2:], 16))
        if e.startswith("#"):
            return cp_or_replacement(int(e[1:]))
        return _NAMED_ENTITIES.get(e.lower(), m.group(0))  # unknown: keep literal

    return _ENTITY_RE.sub(sub, s)


def _iter_html_tokens(html: str):
    """The ONE tokenizer every HTML consumer in this module shares
    (text extraction, link extraction, page metadata): yields
    ("text", chunk) nodes and ("tag", name, closing, tag_body) tags,
    handling — in one place — comments (ending at -->, not '>'),
    quote-aware tag scanning (a '>' inside a quoted attribute does not
    close the tag), doctype, and script/style RAW-TEXT content (their
    bodies are data, skipped; close-tag search is case-insensitive
    over a lowercased copy built ONCE). Extracted from three
    hand-copied scaffolds after a review found the copies had already
    diverged (a case-sensitive </title> search in one of them)."""
    lower = html.translate(_ASCII_LOWER)
    i, n = 0, len(html)
    while i < n:
        lt = html.find("<", i)
        if lt != i:
            yield ("text", html[i : lt if lt >= 0 else n], None, None)
            if lt < 0:
                return
            i = lt
        if html.startswith("<!--", i):
            end = html.find("-->", i + 4)
            i = n if end < 0 else end + 3
            continue
        nxt = html[i + 1 : i + 2]
        if not (nxt.isalpha() or nxt in ("/", "!", "?")):
            # the browser rule: '<' starts a tag only before a letter,
            # '/', '!' or '?' — a bare '< ' or '<3' is TEXT
            yield ("text", "<", None, None)
            i += 1
            continue
        j, quote = i + 1, None
        while j < n:
            c = html[j]
            if quote:
                if c == quote:
                    quote = None
            elif c in ('"', "'"):
                quote = c
            elif c == ">":
                break
            j += 1
        tag_body = html[i + 1 : j]
        i = j + 1
        if not tag_body or tag_body.startswith("!"):
            continue  # doctype / stray markup declaration: ignored
        closing = tag_body.startswith("/")
        tokens = tag_body.lstrip("/").split(None, 1)
        if not tokens:
            continue  # '</>' : skipped like a browser's bogus-comment path
        name = tokens[0].rstrip("/").lower()
        if not closing and name in _RAW_TEXT:
            end = lower.find(f"</{name}", i)
            i = n if end < 0 else end  # content skipped: it is not markup
            continue
        yield ("tag", name, closing, tag_body)


def extract_html(html: str):
    """HTML → (title, main_text, n_links, n_dropped) over the shared
    tokenizer: entity decoding per text node, container dropping
    (nav/footer/header/aside), block segmentation, and the
    link-density boilerplate rule: a block whose decoded text is
    ≥80% link text is dropped (n_dropped counts those). main_text is
    the kept blocks' whitespace-collapsed text joined by single
    spaces. Title text is whatever falls between <title> and its
    (case-insensitive) close tag."""
    title_parts: list[str] = []
    blocks: list[str] = []
    n_links = 0
    n_dropped = 0
    drop_depth = 0
    a_depth = 0
    in_title = False
    cur_parts: list[str] = []
    cur_len = 0
    cur_link_len = 0

    def finalize() -> None:
        nonlocal cur_parts, cur_len, cur_link_len, n_dropped
        text = " ".join("".join(cur_parts).split())
        if text:
            if cur_len and cur_link_len / cur_len >= _LINK_DENSITY_MAX:
                n_dropped += 1
            else:
                blocks.append(text)
        cur_parts, cur_len, cur_link_len = [], 0, 0

    for kind, a, b, _c in _iter_html_tokens(html):
        if kind == "text":
            if in_title:
                title_parts.append(_decode_entities(a))
            elif drop_depth == 0:
                decoded = _decode_entities(a)
                cur_parts.append(decoded)
                cur_len += len(decoded)
                if a_depth > 0:
                    cur_link_len += len(decoded)
            continue
        name, closing = a, b
        if name == "title":
            in_title = not closing
        elif name in _DROP_CONTAINERS:
            if closing:
                drop_depth = max(0, drop_depth - 1)
            else:
                finalize()  # a container boundary also ends the open block
                drop_depth += 1
        elif name == "a":
            if closing:
                a_depth = max(0, a_depth - 1)
            else:
                n_links += 1
                a_depth += 1
        elif name in _BLOCK_TAGS:
            finalize()
    finalize()
    title = " ".join("".join(title_parts).split()) or None
    return title, " ".join(blocks), n_links, n_dropped


HTML_EXTRACT_SCHEMA = (
    "doc_id long, title string, main_text string, n_links int, n_dropped int"
)


def extract_html_text(df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """(doc_id, html string) → extraction row per page. Map-only."""

    def rows(doc_id, html):
        title, text, links, dropped = extract_html(html or "")
        yield (doc_id, title, text, links, dropped)

    return map_rows(df, rows, cols=["doc_id", html_col], schema=HTML_EXTRACT_SCHEMA)


def plant_html_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, html): the fixture page builder as a
    Spark stage."""
    def rows(doc_id, text):
        yield (doc_id, build_html(int(doc_id), text or ""))

    return plant_rows(
        df, rows, cols=["doc_id", text_col], schema="doc_id long, html string"
    )


# --------------------------------------------------------------------------
# robots.txt (RFC 9309, public spec): group selection by most-specific
# user-agent, rule matching by LONGEST-PATH-MATCH with allow-wins-ties,
# '*' wildcards and '$' end anchors. The crawl-side gate that decides
# which URLs may enter the corpus at all.
# --------------------------------------------------------------------------


def parse_robots(robots_txt: str, user_agent: str) -> list[tuple[bool, str]]:
    """robots.txt → the (allow, pattern) rules of the group governing
    user_agent: the group with the LONGEST user-agent token that is a
    prefix of user_agent wins; the '*' group is the fallback
    (RFC 9309 §2.2.1). Unknown directives are ignored; rules before
    any user-agent line are ignored (spec: rules belong to groups)."""
    ua = user_agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    agents_open = False  # consecutive user-agent lines share one group
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, value = line.split(":", 1)
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if not agents_open:
                if cur_agents:
                    groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                agents_open = True
            cur_agents.append(value.lower())
        elif key in ("allow", "disallow"):
            agents_open = False
            if cur_agents:
                cur_rules.append((key == "allow", value))
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    # RFC 9309 §2.2.1: groups sharing the governing user-agent MERGE —
    # real robots.txt files repeat "User-agent: x" blocks, and dropping
    # the later ones would silently crawl disallowed URLs
    best_len = -1
    for agents, _rules in groups:
        for agent in agents:
            if agent != "*" and ua.startswith(agent) and len(agent) > best_len:
                best_len = len(agent)
    merged: list[tuple[bool, str]] = []
    for agents, rules in groups:
        if best_len >= 0:
            if any(
                a != "*" and ua.startswith(a) and len(a) == best_len
                for a in agents
            ):
                merged.extend(rules)
        elif "*" in agents:
            merged.extend(rules)
    return merged


def _robots_pattern_match(pattern: str, path: str) -> bool:
    """RFC 9309 path patterns: literal prefix with '*' wildcards and an
    optional '$' end anchor. Matched in O(len(path)·segments) — robots.txt
    is remote attacker-controlled input, so a backtracking regex here is
    a denial-of-service hole (a 12-wildcard Disallow measured 118s
    against a 41-char path). Semantics: first segment is a required
    prefix; with '$', the last segment is the required suffix (pinning
    the suffix handles '/*.pdf$' vs '/a.pdfx.pdf', where a naive
    first-occurrence scan of '.pdf' lands on the wrong one); middle
    segments greedily first-occurrence in between, which is complete
    because matching a segment as early as possible only leaves more
    room for the rest. Empty pattern matches nothing."""
    if not pattern:
        return False
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    segs = pattern.split("*")
    if not path.startswith(segs[0]):
        return False
    if len(segs) == 1:
        return path == segs[0] if anchored else True
    pos = len(segs[0])
    if anchored:
        last = segs[-1]
        end = len(path) - len(last)
        if end < pos or not path.endswith(last):
            return False
        mid = segs[1:-1]
    else:
        mid = segs[1:]
        end = len(path)
    for seg in mid:
        if not seg:
            continue
        j = path.find(seg, pos, end)
        if j < 0:
            return False
        pos = j + len(seg)
    return True


def robots_allowed(robots_txt: str, user_agent: str, path: str) -> bool:
    """RFC 9309 §2.2.2 evaluation: the matching rule with the LONGEST
    pattern wins; on a length tie allow wins; no matching rule means
    allowed. A '$'-anchored pattern's length counts its literal part
    (the anchor is not a path octet)."""
    best_len, allowed = -1, True
    for allow, pattern in parse_robots(robots_txt, user_agent):
        if _robots_pattern_match(pattern, path):
            plen = len(pattern.rstrip("$"))
            if plen > best_len or (plen == best_len and allow and not allowed):
                best_len, allowed = plen, allow
    return allowed


def robots_gate(df: DataFrame, *, robots_col: str = "robots_txt",
                path_col: str = "path",
                user_agent: str = "sparkga1-crawler") -> DataFrame:
    """(doc_id, robots_txt, path) → + allowed boolean. Map-only."""

    def rows(doc_id, robots, path):
        yield (doc_id, path, robots_allowed(robots or "", user_agent, path))

    return map_rows(
        df, rows, cols=["doc_id", robots_col, path_col],
        schema="doc_id long, path string, allowed boolean",
    )


# --------------------------------------------------------------------------
# Charset handling (the other half of real crawl ingestion: HTTP
# bodies arrive in whatever encoding the server declared — or didn't).
# Declared charsets decode strictly; undeclared bodies use the
# classic sniff: try UTF-8 strict, fall back to latin-1 (every byte
# string is valid latin-1, so the fallback is total). Getting this
# wrong is where mojibake enters a corpus.
# --------------------------------------------------------------------------

_CHARSET_RE = re.compile(r"charset=\"?([A-Za-z0-9_\-]+)\"?", re.IGNORECASE)
_SUPPORTED_CHARSETS = {"utf-8", "latin-1", "iso-8859-1", "utf-16le", "utf-16be"}


def decode_http_body(body: bytes, content_type: str | None):
    """(body bytes, Content-Type) → (text, charset_used, declared).
    A declared-but-unsupported charset refuses (never guess past an
    explicit label); undeclared bodies sniff utf-8-then-latin-1."""
    m = _CHARSET_RE.search(content_type or "")
    if m:
        cs = m.group(1).lower()
        if cs not in _SUPPORTED_CHARSETS:
            raise ValueError(f"charset: unsupported declared charset {cs}")
        try:
            return body.decode(cs), cs, True
        except UnicodeDecodeError:
            raise ValueError("charset: body does not decode in its declared "
                             "charset") from None
    try:
        return body.decode("utf-8"), "utf-8", False
    except UnicodeDecodeError:
        return body.decode("latin-1"), "latin-1", False


def transcode_http_bodies(df: DataFrame, *, body_col: str = "body",
                          ctype_col: str = "content_type") -> DataFrame:
    """(doc_id, body binary, content_type) → decoded text + the charset
    actually used + whether it was declared. Map-only."""

    def rows(doc_id, body, ctype):
        text, cs, declared = decode_http_body(bytes(body), ctype)
        yield (doc_id, cs, declared, text)

    return map_rows(
        df, rows, cols=["doc_id", body_col, ctype_col],
        schema="doc_id long, charset string, declared boolean, text_out string",
    )


def plant_robots_fixture(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, robots_txt, path): a per-host RFC 9309
    policy (group for our UA with prefix rules, a wildcard '$' rule,
    an id%4-dependent extra rule, and a deny-all fallback group) and
    four candidate paths per document covering allow, prefix-deny,
    anchored-deny, and the policy-dependent case."""
    def rows(doc_id):
        d = int(doc_id)
        extra = "Disallow: /public/\n" if d % 4 == 0 else ""
        robots = (
            "# corpus crawl policy\n"
            "User-agent: sparkga1-crawler\n"
            "Disallow: /private/\n"
            "Allow: /private/ok/\n"
            "Disallow: /*.pdf$\n"
            f"{extra}"
            "Allow: /doc/\n\n"
            "User-agent: *\n"
            "Disallow: /\n"
        )
        for path in (
            f"/doc/{d}/0",
            f"/private/{d}",
            f"/doc/{d}.pdf",
            f"/public/{d % 7}",
            f"/private/ok/{d}",
        ):
            yield (doc_id, robots, path)

    return plant_rows(
        df, rows, cols=["doc_id"], schema="doc_id long, robots_txt string, path string"
    )


def plant_encoded_bodies(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, body, content_type): the text with
    accented characters substituted at positions i%17==5 (so every
    body contains non-ASCII), encoded by id%3 as utf-8 / latin-1 /
    utf-16le. The latin-1 slice declares its charset only on even ids
    — odd ones exercise the sniff path (their accented bytes are
    invalid UTF-8, so the fallback is deterministic)."""
    def rows(doc_id, text):
        d = int(doc_id)
        s = "".join(
            chr(0xE0 + ord(c) % 16) if i % 17 == 5 else c
            for i, c in enumerate(text or "")
        )
        cs = ("utf-8", "latin-1", "utf-16le")[d % 3]
        body = s.encode(cs)
        if d % 3 == 1 and d % 2 == 1:
            ctype = "text/html"  # undeclared: the sniff path
        else:
            ctype = f"text/html; charset={cs}"
        yield (doc_id, body, ctype)

    return plant_rows(
        df, rows, cols=["doc_id", text_col],
        schema="doc_id long, body binary, content_type string",
    )


# --------------------------------------------------------------------------
# Link extraction (the crawl-frontier feed): anchor hrefs pulled with
# the same quote-aware/raw-text/comment discipline as extract_html,
# then resolved against the page URL (RFC 3986 subset: absolute,
# host-relative, and path-relative forms).
# --------------------------------------------------------------------------

_HREF_RE = re.compile(
    r"""href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE
)


def extract_links(html: str) -> list[str]:
    """HTML → raw href values of every <a> tag, in document order,
    over the shared tokenizer (hrefs inside comments or script/style
    raw-text are NOT links; a quoted '>' does not end the tag)."""
    links: list[str] = []
    for kind, name, closing, tag_body in _iter_html_tokens(html):
        if kind == "tag" and name == "a" and not closing:
            m = _HREF_RE.search(tag_body)
            if m:
                # attribute values carry character references too:
                # href="?a=1&amp;b=2" means '&', not '&amp;'
                links.append(
                    _decode_entities(m.group(1) or m.group(2) or m.group(3) or "")
                )
    return links


_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:")


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 over a path that starts with '/': '..' pops a
    segment (never past the root), '.' disappears, and a trailing
    dot segment leaves a directory reference (trailing '/')."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == "..":
            if len(out) > 1:
                out.pop()
        elif seg != ".":
            out.append(seg)
    if path.endswith(("/.", "/..")) and out[-1] != "":
        out.append("")
    return "/".join(out) or "/"  # '..' at the root is the root


def resolve_url(base: str, href: str) -> str:
    """RFC 3986 subset used by crawl frontiers: any href with its own
    scheme (http:, mailto:, javascript:, ftp:, tel:, …) passes through
    untouched; '//host/...' adopts the base scheme; '/path' joins the
    base origin; anything else resolves against the base directory.
    Dot segments ('.', '..') are normalized so the same resource gets
    ONE frontier key. Fragments are dropped (same-document refs)."""
    href = href.split("#", 1)[0]
    if not href:
        return base
    if _SCHEME_RE.match(href):
        return href  # absolute URI, any scheme — urljoin parity
    scheme, rest = base.split("://", 1)
    host = rest.split("/", 1)[0]
    origin = scheme + "://" + host
    if href.startswith("//"):
        return scheme + ":" + href
    if href.startswith("/"):
        return origin + _remove_dot_segments(href)
    # path-relative: resolve against the base directory; a host-only
    # base ("https://h.com") has the origin itself as its directory
    directory = base.rsplit("/", 1)[0] if "/" in rest else origin
    return origin + _remove_dot_segments(directory[len(origin):] + "/" + href)


def html_link_edges(df: DataFrame, *, html_col: str = "html",
                    base_col: str = "base_url") -> DataFrame:
    """(doc_id, html, base_url) → one row per anchor (1→N): the
    resolved URL and its host — the frontier/link-graph feed.
    Map-only."""

    def rows(doc_id, html, base):
        for rank, href in enumerate(extract_links(html or "")):
            url = resolve_url(base or "", href)
            host = url.split("://", 1)[-1].split("/", 1)[0]
            yield (doc_id, rank, url, host)

    return map_rows(
        df, rows, cols=["doc_id", html_col, base_col],
        schema="doc_id long, link_rank int, url string, dst_host string",
    )


def plant_pages_with_base(df: DataFrame) -> DataFrame:
    """(doc_id, text, source) → (doc_id, html, base_url) in ONE Arrow
    stage — the link-graph feed without a self-join back to the
    documents table."""
    def rows(doc_id, text, source):
        d = int(doc_id)
        yield (
            doc_id,
            build_html(d, text or ""),
            f"https://{source}.example.com/doc/{d}/0",
        )

    return plant_rows(
        df, rows, cols=["doc_id", "text", "source"],
        schema="doc_id long, html string, base_url string",
    )


# --------------------------------------------------------------------------
# Page metadata (og:/meta/link canonical) — what dedup and provenance
# tracking key on before any text is read.
# --------------------------------------------------------------------------

_ATTR_RES = {
    name: re.compile(
        # the lookbehind stops `data-src=` matching as `src=` (the
        # lazy-loading markup trap: the wrong URL enters the corpus)
        r"(?<![\w\-])" + name + r"""\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""",
        re.IGNORECASE,
    )
    for name in ("content", "href", "property", "name", "rel", "src", "alt")
}


def _attr(tag_body: str, name: str) -> str | None:
    m = _ATTR_RES[name].search(tag_body)
    if not m:
        return None
    return _decode_entities(m.group(1) or m.group(2) or m.group(3) or "")


def extract_page_meta(html: str):
    """HTML → (og_title, description, canonical) from <meta>/<link>
    tags over the SHARED tokenizer (this consumer had kept its own
    inline scaffold — review-caught; the scaffolds had already
    diverged once before) with entity-decoded attribute values."""
    og_title = description = canonical = None
    for kind, name, closing, tag_body in _iter_html_tokens(html):
        if kind != "tag" or closing:
            continue
        if name == "meta":
            if (_attr(tag_body, "property") or "").lower() == "og:title":
                og_title = _attr(tag_body, "content")
            elif (_attr(tag_body, "name") or "").lower() == "description":
                description = _attr(tag_body, "content")
        elif name == "link" and (_attr(tag_body, "rel") or "").lower() == "canonical":
            canonical = _attr(tag_body, "href")
    return og_title, description, canonical


def extract_page_meta_stage(df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """(doc_id, html) → one metadata row per page. Map-only."""

    def rows(doc_id, html):
        og, desc, canon = extract_page_meta(html or "")
        yield (doc_id, og, desc, canon)

    return map_rows(
        df, rows, cols=["doc_id", html_col],
        schema="doc_id long, og_title string, description string, canonical string",
    )


def extract_main_text_stage(df: DataFrame, *, html_col: str = "html",
                            keep_cols: tuple = ("url",)) -> DataFrame:
    """(doc_id, …keep_cols…, html) → (doc_id, …keep_cols…, main_text):
    the main-text extraction Arrow stage the pipeline queries share
    (review finding: the identical closure was hand-copied into two
    queries)."""

    def rows(*row):
        *keep, html = row
        _, text, _, _ = extract_html(html or "")
        yield (*keep, text)

    schema = "doc_id long, " + ", ".join(f"{c} string" for c in keep_cols) + \
        ", main_text string"
    return map_rows(df, rows, cols=["doc_id", *keep_cols, html_col], schema=schema)


# --------------------------------------------------------------------------
# Sitemaps (sitemaps.org protocol, public spec) — how a crawler SEEDS
# its frontier. A real (small) XML reader: prolog/comments, element
# nesting with matching-close validation, the XML entity set, and
# CDATA sections (real sitemaps wrap locs containing '&' in CDATA —
# text inside is NOT markup and may contain '<', '>', '&').
# --------------------------------------------------------------------------

_XML_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}
_XML_ENTITY_RE = re.compile(r"&(#x[0-9a-fA-F]+|#[0-9]+|[a-zA-Z]+);")
_SITEMAP_FIELDS = ("loc", "lastmod", "changefreq", "priority")


def _xml_unescape(s: str) -> str:
    def sub(m: re.Match) -> str:
        e = m.group(1)
        if e.startswith("#"):
            cp = int(e[2:], 16) if e[1:2] in ("x", "X") else int(e[1:])
            # XML 1.0 §2.2 forbids NUL, surrogates, and >U+10FFFF; a
            # lone surrogate returned here would crash the whole Arrow
            # batch later with UnicodeEncodeError — a non-ValueError
            # death violating the module's refusal contract
            if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
                raise ValueError(
                    f"sitemap: invalid character reference &{e};"
                )
            return chr(cp)
        if e.lower() in _XML_ENTITIES:
            return _XML_ENTITIES[e.lower()]
        raise ValueError(f"sitemap: undefined XML entity &{e};")

    return _XML_ENTITY_RE.sub(sub, s)


def parse_sitemap(xml: str):
    """sitemap XML → (kind, entries): kind is 'urlset' or
    'sitemapindex'; each entry is a dict of the protocol fields found
    under its <url>/<sitemap> element, entity-decoded, CDATA honored.
    Mismatched close tags, undefined entities, unterminated CDATA, and
    an unknown root all refuse (ValueError)."""
    i, n = 0, len(xml)
    stack: list[str] = []
    root: str | None = None
    entries: list[dict] = []
    cur_entry: dict | None = None
    text_parts: list[str] = []
    while i < n:
        lt = xml.find("<", i)
        if lt < 0:
            break
        if lt != i:
            text_parts.append(_xml_unescape(xml[i:lt]))
        i = lt
        if xml.startswith("<!--", i):
            end = xml.find("-->", i + 4)
            if end < 0:
                raise ValueError("sitemap: unterminated comment")
            i = end + 3
            continue
        if xml.startswith("<![CDATA[", i):
            end = xml.find("]]>", i + 9)
            if end < 0:
                raise ValueError("sitemap: unterminated CDATA section")
            text_parts.append(xml[i + 9 : end])  # raw — not markup
            i = end + 3
            continue
        if xml.startswith("<?", i):
            end = xml.find("?>", i + 2)
            if end < 0:
                raise ValueError("sitemap: unterminated processing instruction")
            i = end + 2
            continue
        j = xml.find(">", i)
        if j < 0:
            raise ValueError("sitemap: unterminated tag")
        tag_body = xml[i + 1 : j].strip()
        i = j + 1
        self_closing = tag_body.endswith("/")
        closing = tag_body.startswith("/")
        name = tag_body.strip("/").split(None, 1)[0]
        if closing:
            if not stack or stack[-1] != name:
                raise ValueError(f"sitemap: mismatched close tag </{name}>")
            stack.pop()
            if name in _SITEMAP_FIELDS and cur_entry is not None:
                cur_entry[name] = "".join(text_parts).strip()
            elif name in ("url", "sitemap") and cur_entry is not None:
                entries.append(cur_entry)
                cur_entry = None
            text_parts = []
            continue
        if root is None:
            if name not in ("urlset", "sitemapindex"):
                raise ValueError(f"sitemap: unknown root element <{name}>")
            root = name
        if not self_closing:
            stack.append(name)
        if name in ("url", "sitemap"):
            cur_entry = {}
        text_parts = []
    if stack:
        raise ValueError(f"sitemap: unclosed element <{stack[-1]}>")
    if root is None:
        raise ValueError("sitemap: no root element")
    return root, entries


def build_sitemap(doc_id: int, source: str) -> str:
    """A real sitemap per host: ids %4==0 are a <sitemapindex> of
    id%3+1 child sitemaps; others a <urlset> of id%5+1 <url> entries
    whose locs rotate plain / CDATA-wrapped-with-& / entity-escaped-&
    forms (the three ways real sitemaps carry query URLs)."""
    host = f"https://{source}.example.com"
    lines = ['<?xml version="1.0" encoding="UTF-8"?>']
    if doc_id % 4 == 0:
        lines.append('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">')
        for k in range(doc_id % 3 + 1):
            lines.append(
                f"<sitemap><loc>{host}/sitemap-{k}.xml</loc>"
                f"<lastmod>2026-{(doc_id + k) % 12 + 1:02d}-"
                f"{(doc_id + k) % 28 + 1:02d}</lastmod></sitemap>"
            )
        lines.append("</sitemapindex>")
    else:
        lines.append('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">')
        lines.append("<!-- generated for crawl seeding -->")
        for k in range(doc_id % 5 + 1):
            base = f"{host}/doc/{doc_id}/{k}"
            if k % 3 == 1:
                loc = f"<![CDATA[{base}?a=1&b=2]]>"
            elif k % 3 == 2:
                loc = f"{base}?x=1&amp;y=2"
            else:
                loc = base
            lines.append(
                f"<url><loc>{loc}</loc>"
                f"<lastmod>2026-{(doc_id + k) % 12 + 1:02d}-"
                f"{(doc_id + k) % 28 + 1:02d}</lastmod>"
                f"<priority>0.{(doc_id + k) % 10}</priority></url>"
            )
        lines.append("</urlset>")
    return "\n".join(lines)


def parse_sitemaps_stage(df: DataFrame, *, xml_col: str = "xml") -> DataFrame:
    """(doc_id, xml) → one row per sitemap entry (1→N): kind, rank,
    loc, lastmod, priority. Map-only."""

    def rows(doc_id, xml):
        kind, entries = parse_sitemap(xml or "")
        for rank, e in enumerate(entries):
            yield (doc_id, kind, rank, e.get("loc"), e.get("lastmod"),
                   e.get("priority"))

    return map_rows(
        df, rows, cols=["doc_id", xml_col],
        schema="doc_id long, kind string, rank int, loc string, lastmod string, "
        "priority string",
    )


def plant_sitemap_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, source) → (doc_id, xml)."""
    def rows(doc_id, source):
        yield (doc_id, build_sitemap(int(doc_id), source))

    return plant_rows(
        df, rows, cols=["doc_id", "source"], schema="doc_id long, xml string"
    )


# --------------------------------------------------------------------------
# Image–text pair mining (the LAION-recipe primitive for multimodal
# training data): <img> sources resolved against the page URL, paired
# with their alt text and — inside <figure> — the figcaption. The keep
# rule is the published one: an image with EMPTY or MISSING alt is
# decorative and yields no pair.
# --------------------------------------------------------------------------

def extract_image_pairs(html: str, base_url: str) -> list[dict]:
    """HTML → [{img_url, alt_text, caption}] in document order, over
    the shared tokenizer: src resolved per RFC 3986, attribute values
    entity-decoded, captions taken from the enclosing <figure>'s
    <figcaption>, and decorative images (empty/missing alt) dropped."""
    pairs: list[dict] = []
    figure_depth = 0
    figure_imgs: list[dict] = []  # imgs awaiting their figure's caption
    in_figcaption = False
    caption_parts: list[str] = []

    def emit(img: dict, caption: str | None) -> None:
        if img["alt_text"]:  # the keep rule: meaningful alt only
            pairs.append({**img, "caption": caption})

    for kind, a, b, tag_body in _iter_html_tokens(html):
        if kind == "text":
            if in_figcaption:
                caption_parts.append(_decode_entities(a))
            continue
        name, closing = a, b
        if name == "img" and not closing:
            src = _attr(tag_body, "src")
            if not src:
                continue  # src-less (JS-populated) images yield no pair
            img = {
                "img_url": resolve_url(base_url, src) if base_url else src,
                "alt_text": (_attr(tag_body, "alt") or "").strip(),
            }
            if figure_depth > 0:
                figure_imgs.append(img)
            else:
                emit(img, None)
        elif name == "figure":
            if closing:
                figure_depth = max(0, figure_depth - 1)
                if figure_depth == 0:
                    in_figcaption = False  # an unclosed figcaption ends here
                    caption = " ".join("".join(caption_parts).split()) or None
                    for img in figure_imgs:
                        emit(img, caption)
                    figure_imgs, caption_parts = [], []
            else:
                figure_depth += 1
        elif name == "figcaption":
            in_figcaption = not closing
    # unclosed figure at EOF: keep the pairs WITH whatever caption was
    # already parsed (truncated crawl payloads are routine)
    caption = " ".join("".join(caption_parts).split()) or None
    for img in figure_imgs:
        emit(img, caption)
    return pairs


def image_pairs_stage(df: DataFrame, *, html_col: str = "html",
                      base_col: str = "base_url") -> DataFrame:
    """(doc_id, html, base_url) → one row per kept image (1→N).
    Map-only."""

    def rows(doc_id, html, base):
        for rank, p in enumerate(extract_image_pairs(html or "", base or "")):
            yield (doc_id, rank, p["img_url"], p["alt_text"], p["caption"])

    return map_rows(
        df, rows, cols=["doc_id", html_col, base_col],
        schema="doc_id long, rank int, img_url string, alt_text string, "
        "caption string",
    )


def build_gallery_html(doc_id: int, source: str) -> tuple[str, str]:
    """A gallery page per document: a standalone hero image (caption
    NULL), doc_id%4+1 <figure>s each with an <img alt> and an
    entity-bearing <figcaption>, plus two DECORATIVE images the keep
    rule must drop (alt="" and no alt at all)."""
    host = f"https://{source}.example.com"
    parts = [
        "<!DOCTYPE html><html><body>",
        f'<img src="/hero/{doc_id}.png" alt="hero {doc_id}">',
        f'<img src="/decor/{doc_id}.gif" alt="">',
        f'<img src="/spacer/{doc_id}.gif">',
    ]
    for j in range(doc_id % 4 + 1):
        parts.append(
            f'<figure><img src="/img/{doc_id}/{j}.jpg" '
            f'alt="alt {doc_id} {j}">'
            f"<figcaption>caption {doc_id}-{j} &amp; note</figcaption>"
            "</figure>"
        )
    parts.append("</body></html>")
    return "".join(parts), f"{host}/gallery/{doc_id}"


def plant_gallery_pages(df: DataFrame) -> DataFrame:
    """(doc_id, source) → (doc_id, html, base_url)."""
    def rows(doc_id, source):
        html, base = build_gallery_html(int(doc_id), source)
        yield (doc_id, html, base)

    return plant_rows(
        df, rows, cols=["doc_id", "source"],
        schema="doc_id long, html string, base_url string",
    )
