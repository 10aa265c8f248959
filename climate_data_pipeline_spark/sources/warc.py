"""WARC (Web ARChive) ingestion + HTML text extraction — pure
python: the entry point of every web-scale text curation pipeline
(Common Crawl ships as WARC), written against the public ISO 28500
WARC/1.0 format and the Common Crawl conventions.

Reads: record-per-record walks (``WARC/1.0`` version line, CRLF
header block, ``Content-Length`` framed payload, double-CRLF record
separator), the member-per-record GZIP convention (each record its
own gzip member, concatenated — the decompressor walks member
boundaries via the stream's unused tail), warcinfo/request/response
record types, and the embedded HTTP response (status line, headers,
body split). Truncated records and desynchronized separators raise.

``html_text`` is the extraction step: script/style/comment blocks
removed, tags replaced by whitespace (so adjacent words never fuse),
a SINGLE-pass entity unescape (named + decimal + hex — one pass, so
literal ``&amp;#10;`` in source text round-trips instead of
double-decoding), and explicit ``[ \\t\\n\\r\\f\\v]+`` whitespace
collapse — the same character class the SQL oracle uses, keeping the
recovered text byte-comparable via md5 across engines.

The writer exists for synthesis: spec-shaped records with real HTTP
envelopes and real per-record gzip members, so the reader is
exercised against genuinely framed archives.
"""

from __future__ import annotations

import gzip
import hashlib
import re
import zlib

_TAG_SCRIPT = re.compile(rb"<(script|style)\b[^>]*>.*?</\1\s*>",
                         re.IGNORECASE | re.DOTALL)
_TAG_COMMENT = re.compile(rb"<!--.*?-->", re.DOTALL)
_TAG_ANY = re.compile(rb"<[^>]*>")
_ENTITY = re.compile(r"&(amp|lt|gt|quot|apos|#[0-9]+|#[xX][0-9a-fA-F]+);")
_WS = re.compile(r"[ \t\n\r\f\v]+")


def html_escape(text: str) -> str:
    return (text.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def _entity_sub(m: re.Match) -> str:
    e = m.group(1)
    if e == "amp":
        return "&"
    if e == "lt":
        return "<"
    if e == "gt":
        return ">"
    if e == "quot":
        return '"'
    if e in ("apos", "#39"):
        return "'"
    v = int(e[2:], 16) if e[1] in "xX" else int(e[1:])
    if v > 0x10FFFF or 0xD800 <= v <= 0xDFFF:
        return m.group(0)       # out-of-range wild entity: keep as-is
    return chr(v)


def html_text(html: bytes) -> str:
    """Tag-stripping text extraction (see module docstring): returns
    whitespace-collapsed visible text."""
    body = _TAG_SCRIPT.sub(b" ", html)
    body = _TAG_COMMENT.sub(b" ", body)
    body = _TAG_ANY.sub(b" ", body)
    text = _ENTITY.sub(_entity_sub, body.decode("utf-8", "replace"))
    return _WS.sub(" ", text).strip(" ")


def parse_warc(data: bytes) -> list[dict]:
    """Walk every record of a WARC file (plain or member-per-record
    gzip) → list of {type, uri, date, record_id, content_type,
    http_status, http_content_type, body}."""
    if data[:2] == b"\x1f\x8b":
        chunks = []
        rest = data
        while rest[:2] == b"\x1f\x8b":
            d = zlib.decompressobj(wbits=31)
            chunks.append(d.decompress(rest))
            if not d.eof:
                raise ValueError("WARC gzip member truncated")
            rest = d.unused_data
        if rest:
            raise ValueError("trailing non-gzip bytes after WARC "
                             "gzip members")
        data = b"".join(chunks)
    records = []
    pos = 0
    while pos < len(data):
        if data[pos:pos + 9] not in (b"WARC/1.0\r", b"WARC/1.1\r"):
            raise ValueError(f"WARC version line not found at byte "
                             f"{pos}")
        hdr_end = data.index(b"\r\n\r\n", pos)
        header_lines = data[pos:hdr_end].decode("utf-8",
                                                "replace").split("\r\n")
        fields = {}
        for line in header_lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        length = int(fields["content-length"])
        body = data[hdr_end + 4:hdr_end + 4 + length]
        if len(body) < length:
            raise ValueError("WARC record payload truncated")
        rec = {"type": fields.get("warc-type"),
               "uri": fields.get("warc-target-uri"),
               "date": fields.get("warc-date"),
               "record_id": fields.get("warc-record-id"),
               "content_type": fields.get("content-type"),
               "http_status": None, "http_content_type": None,
               "body": body}
        if rec["type"] == "response" and body[:5] == b"HTTP/":
            http_end = body.index(b"\r\n\r\n")
            lines = body[:http_end].decode("utf-8",
                                           "replace").split("\r\n")
            rec["http_status"] = int(lines[0].split(" ")[1])
            for line in lines[1:]:
                k, _, v = line.partition(":")
                if k.strip().lower() == "content-type":
                    rec["http_content_type"] = v.strip()
            rec["body"] = body[http_end + 4:]
        records.append(rec)
        pos = hdr_end + 4 + length
        if data[pos:pos + 4] != b"\r\n\r\n":
            raise ValueError("WARC record separator missing")
        pos += 4
    if not records:
        raise ValueError("no WARC records in payload")
    return records


def build_warc_response(uri: str, html: bytes, date: str,
                        record_id: str, status: int = 200) -> bytes:
    """One spec-shaped response record with a real HTTP envelope."""
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(html)}\r\n\r\n").encode() + html
    header = (f"WARC/1.0\r\n"
              f"WARC-Type: response\r\n"
              f"WARC-Record-ID: <urn:uuid:{record_id}>\r\n"
              f"WARC-Date: {date}\r\n"
              f"WARC-Target-URI: {uri}\r\n"
              f"Content-Type: application/http; msgtype=response\r\n"
              f"Content-Length: {len(http)}\r\n\r\n").encode()
    return header + http + b"\r\n\r\n"


def build_warc(records: list[bytes], gzip_members: bool = False) -> bytes:
    """Concatenate records into one WARC file; ``gzip_members`` wraps
    each record in its own gzip member (the Common Crawl layout)."""
    if not gzip_members:
        return b"".join(records)
    return b"".join(gzip.compress(r, 6, mtime=0) for r in records)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

def synthesize_warc(df, id_col: str, text_col: str):
    """Render document rows into REAL WARC archives: each row one
    response record whose HTML body wraps the ESCAPED text in a
    template with script/style/comment distractors; every odd id's
    archive uses member-per-record gzip."""
    from ..operators._kernel import payload_stage

    def warc(text: str, doc_id: int) -> bytes:
        html = (f"<html><head><title>Doc {doc_id}</title>"
                f"<style>p {{ color: #000; }}</style>"
                f"<script>var x = '<p>not text</p>';</script>"
                f"</head><!-- crawler comment {doc_id} -->"
                f"<body><h1>Doc {doc_id}</h1>"
                f"<p>{html_escape(text)}</p>"
                f"</body></html>").encode()
        rec = build_warc_response(
            uri=f"https://example.org/doc/{doc_id}",
            html=html,
            date=(f"2024-{1 + doc_id % 12:02d}-"
                  f"{1 + doc_id % 28:02d}T00:00:00Z"),
            record_id=f"{doc_id:032x}",
            status=200 if doc_id % 7 else 404)
        return build_warc([rec], gzip_members=bool(doc_id % 2))

    return payload_stage(df, id_col, text_col, warc, "doc_id")


def warc_extract(payload_df, id_col: str = "doc_id",
                 payload_col: str = "payload",
                 include_text: bool = False):
    """WARC → extracted-text projection: one row per response record
    with HTTP status, URI, body size, and the md5 + length of the
    tag-stripped, entity-unescaped, whitespace-collapsed text — the
    exact artifact a text-curation pipeline feeds downstream.
    ``include_text`` adds the recovered text itself (the corpus
    column a curation job continues with; off by default so the
    screening projection stays narrow)."""
    from ..operators._kernel import row_stage

    out_schema = ("uri string, http_status int, n_body_bytes long, "
                  "n_chars long, text_md5 string")
    if include_text:
        out_schema += ", text string"

    def extract(p, _id) -> list[tuple]:
        rows = []
        for rec in parse_warc(bytes(p)):
            if rec["type"] != "response":
                continue
            text = html_text(rec["body"])
            row = (rec["uri"], rec["http_status"], len(rec["body"]),
                   len(text), hashlib.md5(text.encode()).hexdigest())
            rows.append(row + (text,) if include_text else row)
        return rows

    return row_stage(payload_df, id_col, payload_col, extract,
                     out_schema, id_name="doc_id")


# --------------------------------------------------------------------------
# robots.txt (RFC 9309) — crawl-compliance screening (round 10)
# --------------------------------------------------------------------------

def parse_robots(text: str) -> list[tuple[str, str, str]]:
    """Parse one robots.txt body → [(agent_lowercase, rule, path)]
    with rule ∈ {'allow', 'disallow'}: consecutive ``User-agent``
    lines open a group that the following Allow/Disallow lines attach
    to (RFC 9309 §2.2.1 — a rule line closes the agent run); comments
    (#), blank lines and unknown directives (crawl-delay, sitemap)
    are skipped; an empty Disallow value is dropped (it permits
    everything and must not win longest-match with length 0)."""
    rules: list[tuple[str, str, str]] = []
    agents: list[str] = []
    collecting = True
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not collecting:
                agents, collecting = [], True
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            collecting = False
            if val:
                for a in agents:
                    rules.append((a, key, val))
        # ANY other key:value directive — recognized (sitemap,
        # crawl-delay, host) or unknown (clean-param, ...) — is ignored
        # but still closes the user-agent run per the RFC's group
        # grammar (r11, ADVICE fix: an unknown directive between groups
        # used to leave collecting=True, merging the next User-agent
        # line into the previous group)
        else:
            collecting = False
    return rules


def robots_decision(rules: list[tuple[str, str, str]], agent: str,
                    path: str) -> bool:
    """RFC 9309 §2.2.2 evaluation: the group is the rules for the
    longest user-agent token that is a prefix of ``agent`` (falling
    back to ``*``); within the group the rule with the LONGEST
    matching path prefix wins, Allow winning length ties; no match —
    or no group at all — means allowed. Wildcards: ``*`` matches any
    run, a trailing ``$`` anchors the end (the two metacharacters the
    RFC defines)."""
    agent = agent.lower()
    groups: dict[str, list[tuple[str, str]]] = {}
    for a, rule, p in rules:
        groups.setdefault(a, []).append((rule, p))
    candidates = [a for a in groups
                  if a != "*" and agent.startswith(a)]
    if candidates:
        chosen = groups[max(candidates, key=len)]
    elif "*" in groups:
        chosen = groups["*"]
    else:
        return True
    best: tuple[int, int] | None = None   # (match_len, allow_pref)
    verdict = True
    for rule, pat in chosen:
        m = _robots_match_len(pat, path)
        if m is None:
            continue
        key = (m, 1 if rule == "allow" else 0)
        if best is None or key > best:
            best = key
            verdict = rule == "allow"
    return verdict


def _robots_match_len(pattern: str, path: str) -> int | None:
    """Longest-match length of an RFC 9309 pattern against ``path`` —
    the LITERAL length of the pattern (the RFC's specificity measure)
    if it matches as a prefix, else None. ``*`` matches any character
    run; trailing ``$`` anchors the end of the path."""
    import re as _re

    anchored = pattern.endswith("$")
    pat = pattern[:-1] if anchored else pattern
    rx = "".join(".*" if ch == "*" else _re.escape(ch) for ch in pat)
    rx = "^" + rx + ("$" if anchored else "")
    if _re.search(rx, path) is None:
        return None
    return len(pat.replace("*", ""))


def robots_screen(candidates, robots, agent: str,
                  host_col: str = "host", path_col: str = "path",
                  robots_col: str = "robots_txt"):
    """Screen fetch candidates against per-host robots.txt bodies:
    broadcast-join the (host, robots_txt) table onto the candidate
    list (robots tables are tiny next to a frontier), evaluate RFC
    9309 longest-match per row in one Arrow ``mapInPandas`` over the
    joined partitions (parse each host's body once per batch via a
    memo), and return candidates + ``allowed``. A host with NO
    robots.txt row is allowed (the RFC's unavailable-file rule)."""
    import pandas as pd
    from pyspark.sql import functions as F

    joined = candidates.join(F.broadcast(robots), host_col, "left")
    cols = candidates.columns

    def _screen(batches):
        memo: dict[str, list] = {}
        for pdf in batches:
            out = []
            for body in pdf[robots_col]:
                key = body if isinstance(body, str) else ""
                if key not in memo:
                    memo[key] = parse_robots(key)
                out.append(memo[key])
            pdf = pdf.copy()
            pdf["allowed"] = [
                robots_decision(rules, agent, p)
                for rules, p in zip(out, pdf[path_col])]
            yield pdf[cols + ["allowed"]]

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in candidates.schema.fields)
    return joined.mapInPandas(_screen, schema=schema + ", allowed boolean")


# --------------------------------------------------------------------------
# sitemaps (sitemaps.org 0.9) — crawl-frontier discovery (round 10)
# --------------------------------------------------------------------------

def parse_sitemap(xml_text: str) -> list[dict]:
    """Parse one sitemap document (sitemaps.org 0.9 schema) → entry
    dicts. Handles BOTH document kinds: ``<urlset>`` (url → loc,
    optional lastmod/changefreq/priority) and ``<sitemapindex>``
    (sitemap → loc, optional lastmod). Namespaces are stripped (the
    protocol pins one namespace; real-world files omit or alias it),
    entries without a ``<loc>`` are skipped per the spec's required
    field, and a malformed document raises ValueError loudly."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as exc:
        raise ValueError(f"malformed sitemap XML: {exc}") from exc

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    kind = local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        raise ValueError(f"not a sitemap document (root <{kind}>)")
    child_tag = "url" if kind == "urlset" else "sitemap"
    out: list[dict] = []
    for node in root:
        if local(node.tag) != child_tag:
            continue
        fields = {local(c.tag): (c.text or "").strip() for c in node}
        if not fields.get("loc"):
            continue
        out.append({
            "kind": kind, "loc": fields["loc"],
            "lastmod": fields.get("lastmod"),
            "changefreq": fields.get("changefreq"),
            "priority": float(fields["priority"])
            if fields.get("priority") else None,
        })
    return out


def sitemap_extract(df, xml_col: str, id_col: str):
    """Explode sitemap documents into one row per entry (one Arrow row
    stage; the XML never shuffles) →
    (id, kind, loc, lastmod, changefreq, priority)."""
    from ..operators._kernel import row_stage

    return row_stage(
        df, id_col, xml_col,
        lambda xml, _id: [(e["kind"], e["loc"], e["lastmod"],
                           e["changefreq"], e["priority"])
                          for e in parse_sitemap(xml)],
        "kind string, loc string, lastmod string, changefreq string, "
        "priority double", id_name=id_col)
