"""WARC ingestion — the web-crawl container every large text corpus
starts from (Common Crawl ships WARC/1.0 with one gzip member per record).

Spark-first shape: a crawl segment arrives as an opaque binary column
(one WARC file, or a byte range of one, per row); `warc_documents`
parses records, filters to HTTP responses, strips the HTTP envelope and
emits (url, date, status, mime, text) rows — one Arrow `mapInPandas`
pass, map-only, so a 100 TB crawl ingests at scan speed and the
downstream curation pipeline (strip_boilerplate → dedup → quality →
chunk → pack, llmdata/pipeline.py) starts from real crawl bytes.

Parsing is strict where it matters for framing (version line,
Content-Length, the CRLF CRLF record terminator — a mis-framed record
would silently corrupt every later one) and tolerant where real crawls
are messy (unknown record types skipped; non-UTF-8 bodies decoded with
replacement; missing optional headers become NULLs).

Reference scope: the reference engine has no crawl ingestion; this is
part of the SURVEY §7 training-data surface. Format per ISO 28500 /
the WARC 1.0 specification (public).
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "make_warc",
    "parse_warc",
    "warc_documents",
    "html_to_text",
    "canonical_url",
    "WARC_DOC_SCHEMA",
]

_CRLF = b"\r\n"


def make_warc(records: list[dict], *, gzip_members: bool = True) -> bytes:
    """Pack WARC/1.0 records. Each record dict: ``type`` (warcinfo /
    request / response / revisit / …), optional ``target_uri``, ``date``,
    ``record_id``, and for responses ``http_status``, ``content_type``
    and ``body`` (bytes). With ``gzip_members`` each record becomes its
    own gzip member, concatenated — the Common Crawl layout, which lets a
    reader seek to a record boundary and inflate just one document."""
    out = bytearray()
    for i, rec in enumerate(records):
        rtype = rec["type"]
        if rtype == "response":
            body = rec.get("body", b"")
            status = rec.get("http_status", 200)
            ctype = rec.get("content_type", "text/html")
            http = (
                f"HTTP/1.1 {status} OK\r\n"
                f"Content-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
            block = http
            warc_ctype = "application/http; msgtype=response"
        else:
            block = rec.get("body", b"")
            warc_ctype = rec.get("content_type", "application/warc-fields")
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + rtype.encode(),
            b"WARC-Record-ID: <urn:uuid:"
            + rec.get("record_id", f"rec-{i:08d}").encode()
            + b">",
            b"WARC-Date: " + rec.get("date", "2026-01-01T00:00:00Z").encode(),
            b"Content-Type: " + warc_ctype.encode(),
            b"Content-Length: " + str(len(block)).encode(),
        ]
        if "target_uri" in rec:
            headers.insert(3, b"WARC-Target-URI: " + rec["target_uri"].encode())
        raw = _CRLF.join(headers) + _CRLF + _CRLF + block + _CRLF + _CRLF
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += co.compress(raw) + co.flush()
        else:
            out += raw
    return bytes(out)


def _gunzip_members(blob: bytes) -> bytes:
    """Inflate a concatenation of gzip members (the Common Crawl layout)
    into one byte stream; a plain (non-gzip) blob passes through. Total
    output is capped at MAX_INFLATE_BYTES (r12: one bomb member in a
    crawl file must not OOM the executor — gzip expands ~1000:1)."""
    if blob[:2] != b"\x1f\x8b":
        return blob
    from query_engine_spark.llmdata.bounds import MAX_INFLATE_BYTES

    cap = MAX_INFLATE_BYTES
    out = bytearray()
    rest = blob
    while rest:
        d = zlib.decompressobj(31)
        try:
            out += d.decompress(rest, cap + 1 - len(out))
            while d.unconsumed_tail and len(out) <= cap:
                out += d.decompress(d.unconsumed_tail, cap + 1 - len(out))
            if len(out) <= cap:
                out += d.flush()
        except zlib.error as e:
            # normalize to the ONE contract exception type (the mbox
            # rule): a corrupt member is a bad-input fact, not a zlib
            # implementation detail leaking to callers (r11 fuzz find)
            raise ValueError(f"corrupt gzip member in WARC: {e}") from e
        if len(out) > cap:
            raise ValueError(
                f"WARC gzip members exceed {cap}-byte decompression cap"
            )
        if not d.eof:
            raise ValueError("truncated gzip member in WARC")
        rest = d.unused_data
    return bytes(out)


def parse_warc(blob: bytes) -> list[dict]:
    """Parse a WARC file (gzip-member or plain) into records:
    {headers: {name_lower: value}, block: bytes}. Framing is strict:
    every record must open with a WARC/ version line, carry a
    Content-Length, and close with CRLF CRLF — a framing error raises
    rather than desynchronizing the remaining records (bodies may contain
    anything, including things that look like WARC headers; only the
    declared length is trusted)."""
    data = _gunzip_members(blob)
    pos = 0
    records: list[dict] = []
    while pos < len(data):
        # tolerate stray inter-record CRLFs (seen in the wild)
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= len(data):
            break
        end = data.find(_CRLF + _CRLF, pos)
        if end < 0:
            raise ValueError("truncated WARC header block")
        head = data[pos:end].split(_CRLF)
        if not head[0].startswith(b"WARC/"):
            raise ValueError("record does not start with a WARC/ version line")
        headers: dict[str, str] = {}
        for line in head[1:]:
            k, _, v = line.partition(b":")
            try:
                # names are ASCII per ISO 28500 §5.1 — a non-ASCII name
                # is a framing fact worth the contract ValueError, not a
                # UnicodeDecodeError leak (r11 fuzz find; ADVICE r11:
                # decode ascii, not utf-8, so a non-ASCII-but-valid-UTF-8
                # name is rejected per the stated contract); VALUES keep
                # the lossy replace (they carry real-world bytes)
                name = k.strip().lower().decode("ascii")
            except UnicodeDecodeError as e:
                raise ValueError(f"undecodable WARC header name: {e}") from e
            headers[name] = v.strip().decode("utf-8", "replace")
        if "content-length" not in headers:
            raise ValueError("WARC record missing Content-Length")
        ln = int(headers["content-length"])
        block_start = end + 4
        block = data[block_start : block_start + ln]
        if len(block) != ln:
            raise ValueError("WARC block shorter than Content-Length")
        if data[block_start + ln : block_start + ln + 4] != _CRLF + _CRLF:
            raise ValueError("WARC record not terminated by CRLF CRLF")
        records.append({"headers": headers, "block": block})
        pos = block_start + ln + 4
    return records


def _http_split(block: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from an HTTP response payload."""
    sep = block.find(_CRLF + _CRLF)
    if sep < 0:
        return None, None, block
    head = block[:sep].split(_CRLF)
    status: int | None = None
    parts = head[0].split(b" ")
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    ctype = None
    for line in head[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode("utf-8", "replace")
    return status, ctype, block[sep + 4 :]


WARC_DOC_SCHEMA = (
    "warc_id long, url string, warc_date string, http_status int, "
    "mime string, text string"
)


def warc_documents(df: DataFrame) -> DataFrame:
    """Distributed crawl ingestion: (warc_id, payload) → one row per HTTP
    *response* record (request/warcinfo/revisit records are the crawl's
    bookkeeping, not documents), with the HTTP envelope stripped and the
    body UTF-8-decoded with replacement. One Arrow mapInPandas pass —
    map-only; feed the output straight into the curation pipeline."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for wid, blob in zip(pdf["warc_id"], pdf["payload"]):
                for rec in parse_warc(bytes(blob)):
                    h = rec["headers"]
                    if h.get("warc-type") != "response":
                        continue
                    status, ctype, body = _http_split(rec["block"])
                    rows.append(
                        {
                            "warc_id": wid,
                            "url": h.get("warc-target-uri"),
                            "warc_date": h.get("warc-date"),
                            "http_status": status,
                            "mime": ctype,
                            "text": body.decode("utf-8", "replace"),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "warc_id", "url", "warc_date", "http_status", "mime", "text",
                ],
            )

    return df.select("warc_id", "payload").mapInPandas(run, WARC_DOC_SCHEMA)


# --- quoted-angle protection (ADVICE r12) -------------------------------
# Valid HTML5 allows raw '<' / '>' inside QUOTED attribute values
# (onclick comparisons, alt text, data-* payloads). The linear [^<>]
# tag interiors below (the r12 CPU-bomb guard) cannot cross them, so
# such tags leaked fragments into extracted text and the attribute
# extractors silently missed them. The quote-aware interior ADVICE
# sketched — <(?:[^<>"']|"[^"]*"|'[^']*')*> — is linear in RE2 (the
# DuckDB side) but NOT in Spark's java.util.regex: each starred
# alternation iteration recurses one JVM stack frame, so a page of k
# openers before one long unclosed-quote tail costs O(k·tail) AND a
# ~32 KB tail StackOverflowErrors the executor outright (measured this
# round; probes in tests/test_bombs.py). Instead the specials are
# PROTECTED first: a linear pre-pass rewrites '<'/'>' inside quoted
# attribute values to the sentinels below, the [^<>] extractors run
# unchanged, and every captured output restores the sentinels.
#
# r15 v3b anchors: each scan is prefixed with the lazy tag-open
# `<\w[^<>]*?` so only an '="' / ="'" INSIDE an open tag can protect —
# a body-text '="' (always preceded by its tag's closing '>') used to
# sentinel the NEXT real tag's '<' and hide it from every extractor
# (r14 pinned divergence, now fixed). The prefix crosses earlier
# quoted attributes (quotes are not in its class) but never a '>', so
# body text can't reach in-tag anchors. The two naive alternatives
# were probed and rejected (`git show c14cfb8:tools/r15_html_candidate.py`): a
# first-attribute-only prefix fails multi-attribute tags, and an
# attr-hop marking design scans values that protection hasn't reached
# yet. Each pass still handles one '<' and one '>' per TAG in any
# order: the '<'-scan body class excludes only the quote and '<' (so
# it crosses a raw '>' still awaiting its own pass) and vice versa —
# without the crossing, "c>d c>d a<b" exhausted the passes on '>'
# before the '<'-scan reached its target (r14 find). Four passes →
# capacity FOUR of each angle kind per tag (the old limit was two per
# value), beyond which the tag falls back to the previous fragment
# behavior (a capacity line in the bounds.py spirit).
# Linearity: attempts anchor at '="' / ="'", the lazy prefix is a
# single-char-class star (iterative in java.util.regex, no
# alternation-under-star stack risk), and each value scan stops at
# the next quote — which includes the NEXT attempt's own anchor quote
# — so total work is O(page) per pass.
#
# Block-opener ordering (ADVICE r14; FIXED r16): strip_nontext_blocks
# runs BEFORE the full angle protection, so a literal '<!--',
# '<script', '<style' or '<![CDATA[' INSIDE a quoted attribute value
# (plain attribute text for html.parser/browsers — inline-JS handlers
# carrying document.write / innerHTML strings are the real-crawl
# carrier) used to open a strip block and swallow page content.
# Running the FULL protection first is not safe (an '="' inside real
# script text would sentinel the '</script>' terminator and break the
# strip — probed and rejected r14/r15), but a RESTRICTED pre-pass is:
# protect_quoted_block_openers sentinels ONLY the '<' of an opener
# literal inside a v3b-anchored quoted value, and sentineling an
# OPENER can never break strip termination — the strip's lazy bodies
# depend on their terminators, never on opener literals inside, and
# terminator literals in script text keep ending blocks exactly where
# a browser would. Incidence measured before the fix
# (`git show c14cfb8:tools/r16_capacity_incidence.py`): ~56% of pages whose handler
# attribute carries a block-opener literal lost content. Remaining
# capacity line: an opener PRECEDED in the same value by a raw
# non-opener '<' stays unprotected (the linear value scan stops at the
# first '<'; crossing it exactly needs lookahead, which the RE2 oracle
# contract forbids) — fallback is the pre-r16 behavior.

_LT_SENT = "\x02"
_GT_SENT = "\x03"
# Opener '<' sentinel — distinct from _LT_SENT because the full
# protect pass scrubs \x02/\x03 at ITS start, which would destroy
# earlier pre-pass marks; the pre-pass scrubs \x04/\x05 itself, and
# every restore_angles consumer runs the pre-pass upstream, so they
# can never fabricate an angle from raw crawl bytes.
_OPENER_SENT = "\x04"
# In-value '>' sentinel for the pre-pass's unblocking round (\x05):
# restored to '>' like _GT_SENT, but laid down BEFORE the strip, so
# its scan class must make hiding a strip terminator impossible.
_PRE_GT_SENT = "\x05"

# Gate probe: exactly the pre-pass scan below. When it misses, no
# replace could fire — skipping the rounds is exact. Virtually every
# real page misses (block-opener literals inside quoted attribute
# values are the rare tail of inline-handler content).
# Over-approximating on purpose (a probe miss must imply no round
# could fire, never the reverse): an opener literal within a bounded
# same-quote-free span after an attribute quote — the span crosses
# '<'/'>' that the rounds clear progressively, and its 4096 bound
# matches the round scans' own bound exactly (r16 review find #3: an
# unbounded round scan with a bounded probe silently skipped
# protection past 4 KB; both sides now share the bound, so the skip
# is exact and >4 KB spans are a documented capacity line).
_OPENER_IN_VALUE = (
    "(?is)=\\s*(\"[^\"]{0,4096}|'[^']{0,4096})"
    "<(!--|!\\[cdata\\[|script\\b|style\\b)"
)


def protect_quoted_block_openers(col: Column) -> Column:
    """Sentinel the '<' of a block-opener literal ('<!--', '<script',
    '<style', '<![CDATA[') inside a quoted attribute value, BEFORE
    strip_nontext_blocks runs — a browser treats such a literal as
    attribute text, never as a comment/script/style start (r16, the
    last pinned HTML swallow-content shape).

    The anchor differs from v3b's on purpose: the tag-open prefix is
    <[a-z][^>]{0,2048}? — it CROSSES a raw '<' (an earlier attribute's
    'a<b' value must not hide a later handler's opener; the HTML5
    tokenizer is in-tag there too, so crossing is browser-faithful)
    but never a '>', so body text after a closed tag still cannot
    anchor. Crossing '<' forfeits v3b's self-limiting attempt bound,
    so the prefix is BOUNDED at 2048 chars instead — linear at
    ≤2048/anchor on '>'-less anchor floods (probed in test_bombs),
    with a capacity line: an opener sitting more than 2 KB into its
    tag falls back to pre-r16 behavior. '<' followed by a non-letter
    is text to the tokenizer ('x<6'), so the anchor requires a letter.

    Strip safety (why this pre-pass is sound where full
    protect-before-strip is not, probed r14/r15): it rewrites OPENER
    literals only — strip_nontext_blocks' lazy bodies depend on their
    TERMINATORS ('-->', ']]>', '</script>', '</style>'), which contain
    no opener, so a real block always still ends exactly where a
    browser ends it; a sentineled in-value opener merely stops being a
    false START. Three rounds → capacity three opener-bearing values
    per tag; the remaining documented corner is a raw non-opener '<'
    earlier in the SAME value with no later =-quote re-anchor (the
    value scan stops at it; crossing exactly needs lookahead, which
    the RE2 oracle contract forbids). restore_angles maps the sentinel
    back in every captured output."""
    c = F.regexp_replace(col, f"[{_OPENER_SENT}{_PRE_GT_SENT}]", " ")
    p = c
    for _ in range(3):
        # unblocking round: an in-value raw '>' ('data-x="c>d"') blocks
        # the opener round's tag-open prefix from reaching LATER
        # attributes of the same tag. v3b-anchored and self-limiting
        # ([^<>]*? prefix), and the value scan class additionally
        # excludes '/', '-' and ']' so the '>' of every strip
        # terminator ('</script>', '</style>', '-->', ']]>') is
        # unreachable by construction — sentineling such a '>' from an
        # anchor inside script/comment data was exactly why the full
        # protect-before-strip design was rejected (r14/r15).
        p = F.regexp_replace(
            p,
            "(?is)(<[a-z][^<>]*?=\\s*"
            "(?:\"[^\">/\\-\\]]*|'[^'>/\\-\\]]*))>",
            "$1" + _PRE_GT_SENT,
        )
        # value scans share the gate probe's 4096 bound (review find
        # #3: a longer span must fall back, not half-fire)
        p = F.regexp_replace(
            p,
            "(?is)(<[a-z][^>]{0,2048}?="
            "\\s*(?:\"[^\"<]{0,4096}|'[^'<]{0,4096}))"
            "<(!--|!\\[CDATA\\[|script\\b|style\\b)",
            "$1" + _OPENER_SENT + "$2",
        )
        # NO terminator-sentinel round (r16 review find #1, reverted
        # in-round): sentineling an own-tag terminator literal
        # ('<style onload="...</style>...">') looked safe, but the
        # anchor cannot distinguish a real script/style TAG from a
        # '<script ... =' LOOKALIKE inside actual script DATA
        # ("var s = '<script defer src=';"), where the value scan
        # reached and sentineled the block's REAL terminator — the
        # strip then overran to EOF, a worse and more realistic
        # regression than the shape it fixed. The own-tag-terminator
        # shape is a pinned capacity instead (test_bombs.py).
    return F.when(c.rlike(_OPENER_IN_VALUE), p).otherwise(c)

# One early-exit probe gating the 16-replace protect chain: exactly the
# four scan bodies below, alternated under the shared tag-open prefix.
# A page with NO raw angle inside a quoted attribute value (the vast
# majority — raw in-value angles are rare even in real crawls) pays one
# rlike scan instead of 16 full-page regexp_replace passes; when the
# probe misses, NONE of the four replaces could fire, so skipping the
# chain is exact, not approximate (r15 scalestress find: the ungated
# v3b chain cost −48…−81% bulk extractor throughput).
_PROTECT_NEEDED = (
    "(?s)<\\w[^<>]*?=\\s*(\"[^\"<]*<|\"[^\">]*>|'[^'<]*<|'[^'>]*>)"
)


def protect_quoted_angles(col: Column) -> Column:
    """Rewrite raw '<' / '>' inside quoted attribute values to sentinel
    bytes so the linear [^<>] tag patterns can cross them. Literal
    \\x02/\\x03 input bytes (malformed real-crawl junk) are scrubbed to
    spaces first so restoration can never fabricate an angle bracket."""
    c = F.regexp_replace(col, f"[{_LT_SENT}{_GT_SENT}]", " ")
    # r15 v3b: the lazy tag-open prefix <\w[^<>]*? cannot cross a
    # '>', so a BODY-TEXT '="' (always after a closed tag) can
    # never protect real markup; in-tag anchors keep working
    # across earlier attributes (the prefix crosses quotes).
    # Single-char-class lazy star: iterative in java.util.regex,
    # no alternation-under-star stack risk. One angle of each
    # kind per TAG per pass -> capacity 4 of each kind per tag.
    # Both quote styles fold into ONE pattern per angle kind (the
    # alternation sits after the common prefix, NOT under a star — no
    # stack risk): 2 full-page replaces per ROUND instead of 4 (r15
    # scalestress). One angle of each kind per TAG per round regardless
    # of which quote style carries it — the documented four-per-tag
    # capacity is per tag, not per quote style.
    def _round(x: Column) -> Column:
        x = F.regexp_replace(
            x, "(<\\w[^<>]*?=\\s*(?:\"[^\"<]*|'[^'<]*))<", "$1" + _LT_SENT)
        return F.regexp_replace(
            x, "(<\\w[^<>]*?=\\s*(?:\"[^\">]*|'[^'>]*))>", "$1" + _GT_SENT)

    # ONE gate level only (r15 scalestress): a when() level repeats its
    # input subtree in condition/branch/otherwise, and the big extractor
    # projections fall out of whole-stage codegen (expression size), so
    # interpreted evaluation recomputes each repeat — gating midway on
    # the 2-round result was measured SLOWER than running all 4 rounds.
    # Here the repeated input is only `c` (one cheap scrub replace).
    p = c
    for _ in range(4):
        p = _round(p)
    return F.when(c.rlike(_PROTECT_NEEDED), p).otherwise(c)


def strip_nontext_blocks(col: Column) -> Column:
    """Drop HTML comments, CDATA marked sections, and script/style
    blocks — shared by html_to_text AND the attribute extractors (r14
    generated-page differential find: commented-out or script-embedded
    markup was extracted as if live — a '<a href>' inside '<!-- -->'
    minted phantom outlink edges; html.parser/browsers treat
    script/style as CDATA and comments as non-events). The appended
    CLOSED sentinels keep the lazy bodies linear on unclosed openers
    (r12 CPU-bomb guard, measured in html_to_text's comment block) and
    strip themselves when unused.

    Bare '<![CDATA[ .. ]]>' in body (XHTML-authored pages served as
    text/html): r15 real-page-corpus find — the content was kept as
    text and markup inside it extracted as LIVE. html.parser consumes
    the whole marked section as a non-event (SGML semantics), which is
    what we match. A browser's HTML tokenizer instead takes '<![' as a
    bogus comment ending at the FIRST '>', a third behavior that
    surfaces only on malformed-XHTML shapes; the html.parser side is
    the differential reference and the safer strip (never extracts
    CDATA-wrapped markup as live, which is the bug class that
    matters)."""
    def _chain(x: Column, cdata: bool) -> Column:
        sent = "<!----><![CDATA[]]><script></script><style></style>" \
            if cdata else "<!----><script></script><style></style>"
        x = F.concat(x, F.lit(sent))
        x = F.regexp_replace(x, r"(?is)<!--.*?-->", " ")
        if cdata:
            # html.parser's marked-section close is ]\s*]\s*> and the
            # keyword is case-insensitive (_markupbase.parse_marked_section)
            x = F.regexp_replace(x, r"(?is)<!\[CDATA\[.*?\]\s*\]\s*>", " ")
        x = F.regexp_replace(x, r"(?is)<script\b.*?</script\s*>", " ")
        return F.regexp_replace(x, r"(?is)<style\b.*?</style\s*>", " ")

    # gates (r15 scalestress): a page with no block opener at all skips
    # the concat + replaces for one literal-alternation rlike, and the
    # CDATA replace (rare opener) only runs on pages that carry one.
    # Exact for every consumer: when a probe misses, the skipped
    # replaces would only consume the appended sentinels (a few
    # trailing spaces' difference — regexp_extract callers are
    # position-independent and html_to_text trims)
    return F.when(
        col.rlike(r"(?i)<!\[CDATA\["), _chain(col, cdata=True)
    ).otherwise(F.when(
        col.rlike(r"(?i)<!--|<script|<style"), _chain(col, cdata=False)
    ).otherwise(col))


def _bind_once(expr: Column, body) -> Column:
    """dedup.bind_once re-exported lazily (no import cycle): evaluate
    `expr` once per row as a lambda variable and pass it to `body`."""
    from query_engine_spark.llmdata.dedup import bind_once

    return bind_once(expr, body)


def protected_html(col: Column) -> Column:
    """The full opener-pre-pass → strip → angle-protect pipeline with
    each stage BOUND ONCE per row (r16): every stage's gate when()
    textually repeats its input subtree (3×/5×/3×), so composing the
    three stages naively multiplies to ~45 textual instances of the
    innermost work — fine under whole-stage codegen's subexpression
    elimination, but the extractors embed this under CodegenFallback
    HOFs (and past janino's method budget), where every textual repeat
    re-evaluates. Binding each stage's output to a lambda variable
    makes the repeats O(1) references, so per-row work is exactly one
    pre-pass + one strip + one protect regardless of evaluation mode
    (`git show c14cfb8:tools/r16_extractor_ab.py` is the measurement)."""
    return _bind_once(
        protect_quoted_block_openers(col),
        lambda p1: _bind_once(
            strip_nontext_blocks(p1),
            lambda p2: protect_quoted_angles(p2),
        ),
    )


def restore_angles(col: Column) -> Column:
    """Undo protect_quoted_angles AND protect_quoted_block_openers in
    an extracted value or text (every consumer runs both upstream)."""
    return F.regexp_replace(
        F.regexp_replace(col, f"[{_LT_SENT}{_OPENER_SENT}]", "<"),
        f"[{_GT_SENT}{_PRE_GT_SENT}]", ">",
    )


# Composite attribute-VALUE token: double-quoted, single-quoted, or the
# HTML5 unquoted class — ONE page scan per arrangement instead of one
# per quote style (r15 scalestress: each extra pattern is a full-page
# regexp_extract). The extracted token keeps its quotes; strip them
# with _strip_value_quotes (cheap — runs on the short token).
_VAL_TOKEN = "(\"[^\"]*\"|'[^']*'|[^\\s\\x22\\x27<>=\\x60]+)"


def _strip_value_quotes(tok: Column) -> Column:
    """Drop the surrounding quotes of a _VAL_TOKEN match (unquoted
    tokens cannot start with a quote — the class excludes both)."""
    return F.when(
        tok.rlike("^[\"']"), tok.substr(F.lit(2), F.length(tok) - 2)
    ).otherwise(tok)


def html_to_text(col: Column) -> Column:
    """WET-style HTML → text as a PURE COLUMN EXPRESSION — the extraction
    stage between `warc_documents` and the curation pipeline, kept
    JVM-side (chained regexp_replace, whole-stage codegen) instead of a
    Python HTML parser: at 100 TB the tag-stripping pass must run at scan
    speed, and a deterministic regex pipeline is also DuckDB-expressible
    for oracle verification (every pattern is RE2-safe: lazy quantifiers,
    no backreferences).

    Pipeline: drop comments and script/style blocks (lazy, DOTALL);
    block-closing tags become newlines (paragraph structure survives for
    the chunker); remaining tags become spaces; the common named
    entities decode, with "&amp;" protected through a sentinel so its
    output is NEVER rescanned ("&amp;lt;" ends as the displayed "&lt;",
    not "<" — RE2 has no lookahead, so ordering alone cannot express
    this); residual entities collapse to a space (documented lossy —
    numeric decode needs chr(), which is not expressible
    engine-portably); whitespace normalizes with newlines preserved."""
    # CPU-bomb guard (r12 review find, same class as llmdata/bounds.py —
    # the resource is CPU): each lazy-body pattern below, failing at an
    # UNCLOSED opener, scans to end-of-input and then retries at every
    # later opener — O(N²) on a crafted page of repeated '<!--'/'<script'
    # openers with no closer (measured: 384 KB of openers ≈ 58 s in the
    # JVM regex engine; a 1 MB page ≈ minutes of one executor core).
    # Appending one CLOSED sentinel of each kind makes an unclosed
    # opener match ONCE to the sentinel — the swallow-to-EOF semantics
    # browsers apply to unclosed comments/scripts — and the sentinels
    # strip themselves when unused, so conforming pages are unchanged.
    # (Shared with the attribute extractors since r14 — see
    # strip_nontext_blocks.)
    # opener pre-pass BEFORE the strip (r16: a quoted-attribute
    # '<script'/'<!--' literal is attribute text, not a block start),
    # protect AFTER the script/style strips (their bodies die anyway,
    # and full protection first could sentinel an appended closing tag
    # after a crafted unclosed quote, resurrecting the unclosed-opener
    # scan); restored at the end so body text keeps its literal
    # angles. protected_html binds each stage once per row.
    c = protected_html(col)
    # tag-interior classes exclude '<' as well as '>' (r12 CPU-bomb
    # guard): with [^>]* a '>'-less tail costs O(tail) at EVERY '<',
    # O(N²) on a '<'-flood; [^<>]* bounds each attempt at the next '<'.
    # DOCUMENTED DIVERGENCE (pinned in test_stdlib_conformance): on
    # INVALID html with an unescaped '<' before a letter in body text
    # ('x<y ok</p>'), html.parser/browsers tokenize '<y ok</p' as one
    # tag (swallowing to the next '>'); the linear pattern instead
    # keeps '<y ok' as text and strips only the real '</p>'. Keeping
    # the words is the better failure mode for a training-data text
    # extractor, and the browser-exact swallow is exactly the
    # quadratic scan being removed. Same class swap across this module.
    c = F.regexp_replace(
        c, r"(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/ul|/ol|/table|/blockquote)\b[^<>]*>", "\n"
    )
    c = F.regexp_replace(c, r"(?s)<[^<>]*>", " ")
    # scrub any literal 0x01 first (malformed real-crawl bytes) so the
    # sentinel below can never collide and fabricate an ampersand
    c = F.regexp_replace(c, "\x01", " ")
    c = F.regexp_replace(c, r"&amp;", "\x01")
    for pat, rep in (
        (r"&nbsp;", " "),
        (r"&lt;", "<"),
        (r"&gt;", ">"),
        (r"&quot;", "\""),
        (r"&#39;", "'"),
        (r"&apos;", "'"),
    ):
        c = F.regexp_replace(c, pat, rep)
    c = F.regexp_replace(c, r"&#?[A-Za-z0-9]{1,8};", " ")
    c = F.regexp_replace(c, "\x01", "&")
    c = restore_angles(c)
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    # trim ALL whitespace (Spark's trim only strips 0x20 spaces)
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def remove_url_dot_segments(col: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal on the PATH portion of a
    full URL (r15 urljoin cross-check probe: '../'/'./' segments were
    kept verbatim, so the same image reached the corpus under multiple
    URLs — browsers and the spec collapse them during reference
    resolution). The spec's output-buffer algorithm runs as ONE
    higher-order aggregate() fold over the '/'-split path segments —
    '.' drops, '..' pops, a trailing dot segment re-appends the
    directory slash — so collapse depth is unbounded (no residue
    capacity line; an N-deep '../' chain collapses exactly). Query and
    fragment are split off first and never touched. A gate regex skips
    the fold entirely for the overwhelmingly common no-dot-segment
    URL; r16 (ADVICE r15): the gate covers every path-terminator
    context — '/', '?', '#', or end — so 'src="..?v=1"' and "/a/.#f"
    collapse too."""
    head = F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    path = F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    tail = F.regexp_replace(col, r"^[^?#]*", "")
    # The spec's stack algorithm as ONE higher-order fold over the
    # path segments, not iterative regex rounds (r15 spot-measure:
    # expression size is a codegen-compilation budget — an iterative
    # replace chain pushed the extractor projection past janino's
    # method limit and the WHOLE whole-stage unit fell back to
    # interpreted, −50% on image_refs; aggregate() is CodegenFallback,
    # so the unit stays compiled and only the rare gated rows pay an
    # interpreted array fold). '.' drops, '..' pops (never the root ''
    # segment — a leading-slash path splits to ['', seg, ...]), and a
    # trailing '.'/'..' re-appends the empty segment so the collapsed
    # path keeps its directory slash like §5.2.4's output buffer. The
    # lambda captures NO outer expressions (the r6 HOF-recompute trap).
    segs = F.split(path, "/")
    stack = F.aggregate(
        segs,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: (
            F.when(x == ".", acc)
            .when(
                x == "..",
                F.when(F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1))
                .otherwise(acc),
            )
            .otherwise(F.concat(acc, F.array(x)))
        ),
    )
    joined = F.array_join(stack, "/")
    p = F.when(
        F.try_element_at(segs, F.lit(-1)).isin(".", ".."),
        F.concat(joined, F.lit("/")),
    ).otherwise(joined)
    # Gate: a URL with no dot segment at all — virtually every real
    # src — pays one short-string probe; without one the fold is the
    # identity (split/join round-trips and nothing drops or pops), so
    # the skip is exact. A dot segment ends at any path terminator —
    # '/', '?', '#', or end-of-string (the r15 gate missed the '?'/'#'
    # contexts, so "..?v=1" / ".#f" skipped the collapse — ADVICE
    # r15). The probe over-matches '/../' inside a query string —
    # harmless, the fold never touches the tail. null-safe: NULL url
    # -> NULL (concat/when propagate).
    return F.when(
        col.rlike(r"/\.\.?([/?#]|$)"), F.concat(head, p, tail)
    ).otherwise(col)


def canonical_url(col: Column) -> Column:
    """URL canonicalization for crawl-level dedup, as pure column
    expressions: lowercase scheme and host, strip the scheme's default
    port, empty path becomes "/", the fragment drops, tracking parameters
    (utm_*, fbclid, gclid) drop, and the remaining query parameters SORT —
    so the same resource fetched via trivially-different URLs collapses to
    one key before any content hashing. Strings without a scheme pass
    through trimmed (relative links are not URLs to canonicalize)."""
    # drop the fragment FIRST: a '?' inside the fragment must not
    # resurrect fragment text as a query string
    base = F.regexp_replace(col, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(base, r"^\s*([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(
        F.regexp_extract(base, r"^\s*[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    host = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(host, r":443$", "")
    ).otherwise(host)
    path = F.regexp_extract(
        base, r"^\s*[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(base, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~p.startswith("fbclid=")
        & ~p.startswith("gclid="),
    )
    qs = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.concat_ws("&", F.array_sort(params))),
    ).otherwise(F.lit(""))
    return F.when(scheme == "", F.trim(col)).otherwise(
        F.concat(scheme, F.lit("://"), host, path, qs)
    )


# --- crawl-frontier XML: sitemaps and RSS/Atom feeds (the seeding stage
# of a crawl — the pipeline that turns a site's published URL inventory
# into fetch tasks). Real XML parsing via stdlib ElementTree with the
# namespace handling that actually trips parsers: sitemap.org and Atom
# documents are namespace-qualified, RSS 2.0 is not -------------------------


def parse_sitemap(blob: bytes) -> list[dict]:
    """Parse a sitemap.org XML document: returns one dict per <url>
    entry with loc/lastmod/changefreq/priority (None when absent).
    Sitemap INDEX files (<sitemapindex>) return entries with
    kind='sitemap' instead of kind='url' — the recursive-frontier shape.
    Namespace-qualified per the spec; malformed XML raises ValueError."""
    import xml.etree.ElementTree as ET

    from query_engine_spark.llmdata.bounds import reject_xml_dtd

    reject_xml_dtd(blob, "sitemap")
    try:
        root = ET.fromstring(blob)
    except ET.ParseError as e:
        raise ValueError(f"malformed sitemap XML: {e}") from e
    ns = "{http://www.sitemaps.org/schemas/sitemap/0.9}"
    tag = root.tag
    if tag == f"{ns}urlset":
        child_tag, kind = f"{ns}url", "url"
    elif tag == f"{ns}sitemapindex":
        child_tag, kind = f"{ns}sitemap", "sitemap"
    else:
        raise ValueError(f"not a sitemap document (root {tag!r})")
    out: list[dict] = []
    for el in root.findall(child_tag):
        loc = el.findtext(f"{ns}loc")
        if loc is None:
            raise ValueError("sitemap entry without <loc>")
        out.append(
            {
                "kind": kind,
                "loc": loc.strip(),
                "lastmod": (el.findtext(f"{ns}lastmod") or "").strip() or None,
                "changefreq": (el.findtext(f"{ns}changefreq") or "").strip() or None,
                "priority": (el.findtext(f"{ns}priority") or "").strip() or None,
            }
        )
    return out


def parse_feed(blob: bytes) -> list[dict]:
    """Parse an RSS 2.0 or Atom feed: one dict per item/entry with
    (title, link, published). RSS is unqualified (<rss><channel><item>),
    Atom is namespace-qualified with links as ATTRIBUTES
    (<link href=.../>) — the asymmetry that breaks single-format
    parsers. Unknown roots and malformed XML raise ValueError."""
    import xml.etree.ElementTree as ET

    from query_engine_spark.llmdata.bounds import reject_xml_dtd

    reject_xml_dtd(blob, "feed")
    try:
        root = ET.fromstring(blob)
    except ET.ParseError as e:
        raise ValueError(f"malformed feed XML: {e}") from e
    out: list[dict] = []
    if root.tag == "rss":
        channel = root.find("channel")
        if channel is None:
            raise ValueError("RSS without <channel>")
        for item in channel.findall("item"):
            out.append(
                {
                    "title": (item.findtext("title") or "").strip() or None,
                    "link": (item.findtext("link") or "").strip() or None,
                    "published": (item.findtext("pubDate") or "").strip() or None,
                }
            )
        return out
    atom = "{http://www.w3.org/2005/Atom}"
    if root.tag == f"{atom}feed":
        for entry in root.findall(f"{atom}entry"):
            link_el = entry.find(f"{atom}link")
            out.append(
                {
                    "title": (entry.findtext(f"{atom}title") or "").strip() or None,
                    "link": link_el.get("href") if link_el is not None else None,
                    "published": (entry.findtext(f"{atom}published") or "").strip()
                    or None,
                }
            )
        return out
    raise ValueError(f"not an RSS/Atom feed (root {root.tag!r})")


def make_sitemap(site_id: int, n_urls: int) -> bytes:
    """Deterministic sitemap fixture: every fourth document is a sitemap
    INDEX pointing at child sitemaps; the rest are urlsets whose entries
    carry lastmod/changefreq/priority on a modular schedule (absent on
    some rows — real sitemaps omit optional fields constantly)."""
    ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    if site_id % 4 == 3:
        parts = [f'<sitemapindex xmlns="{ns}">']
        for k in range(n_urls):
            parts.append(
                f"<sitemap><loc>https://s{site_id}.example/maps/{k}.xml</loc>"
                + (
                    f"<lastmod>2024-0{1 + k % 9}-15</lastmod>"
                    if k % 2 == 0
                    else ""
                )
                + "</sitemap>"
            )
        parts.append("</sitemapindex>")
    else:
        parts = [f'<urlset xmlns="{ns}">']
        freqs = ("daily", "weekly", "monthly")
        for k in range(n_urls):
            parts.append(
                f"<url><loc>https://s{site_id}.example/p/{k}</loc>"
                + (f"<lastmod>2024-0{1 + k % 9}-01</lastmod>" if k % 2 == 0 else "")
                + (f"<changefreq>{freqs[k % 3]}</changefreq>" if k % 3 != 2 else "")
                + (f"<priority>0.{1 + k % 9}</priority>" if k % 5 == 0 else "")
                + "</url>"
            )
        parts.append("</urlset>")
    return "".join(parts).encode("utf-8")


def make_sitemap_gated(site_id: int, n_urls: int) -> bytes:
    """Sitemap urlset fixture whose paths INTERSECT the make_robots rule
    set (the crawl-schedule composition needs a gate that actually
    gates): entries cycle allowed /data/public/ pages, disallowed /data/
    pages, per-site secret subtrees (blocked only when the secret index
    matches the site's), and /private/ pages (blocked for '*' but NOT
    for agents with their own group — RFC 9309 group override)."""
    ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    parts = [f'<urlset xmlns="{ns}">']
    for k in range(n_urls):
        sel = k % 4
        if sel == 0:
            path = f"/data/public/pg{k}"
        elif sel == 1:
            path = f"/data/pg{k}"
        elif sel == 2:
            path = f"/data/public/secret{(site_id + k) % 3}/pg{k}"
        else:
            path = f"/private/pg{k}"
        parts.append(f"<url><loc>https://s{site_id}.example{path}</loc></url>")
    parts.append("</urlset>")
    return "".join(parts).encode("utf-8")


_SITEMAP_SCHEMA = (
    "site_id long, kind string, loc string, lastmod string, "
    "changefreq string, priority string"
)


def sitemap_entries(df: DataFrame, *, id_col: str = "site_id") -> DataFrame:
    """Distributed sitemap parsing (Arrow mapInPandas, map-only): one
    row per sitemap entry — the crawl-frontier expansion pass."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for sid, blob in zip(pdf[id_col], pdf["payload"]):
                for e in parse_sitemap(bytes(blob)):
                    rows.append({"site_id": sid, **e})
            yield pd.DataFrame(
                rows,
                columns=["site_id", "kind", "loc", "lastmod", "changefreq", "priority"],
            )

    return df.select(id_col, "payload").mapInPandas(run, _SITEMAP_SCHEMA)


# --- robots.txt (RFC 9309): crawl politeness — the gate every fetch
# passes before it happens. The subtle part real crawlers get wrong is
# rule matching: within the selected user-agent group, the rule with the
# LONGEST matching path prefix wins, Allow beating Disallow on ties; an
# empty Disallow allows everything; groups merge for the same agent ------


def parse_robots(text: str) -> dict:
    """Parse robots.txt into {agent -> [(kind, path), ...]} plus
    sitemap URLs and crawl delays. Comments strip at '#'; unknown
    directives are ignored (the RFC requires tolerance); rules before
    any User-agent line raise — that is a malformed file, and silently
    attaching them to '*' changes crawl behavior."""
    groups: dict[str, list[tuple[str, str]]] = {}
    delays: dict[str, int] = {}
    sitemaps: list[str] = []
    current: list[str] = []
    last_was_agent = False
    for raw in text.split("\n"):
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            agent = value.lower()
            if last_was_agent:
                current.append(agent)
            else:
                current = [agent]
            for a in current:
                groups.setdefault(a, [])
            last_was_agent = True
            continue
        last_was_agent = False
        if key == "sitemap":
            sitemaps.append(value)
            continue
        if key in ("allow", "disallow"):
            if not current:
                raise ValueError("robots.txt rule before any User-agent line")
            for a in current:
                groups[a].append((key, value))
        elif key == "crawl-delay":
            if not current:
                raise ValueError("robots.txt crawl-delay before any User-agent line")
            if not value.isdigit():
                raise ValueError(f"non-integer crawl-delay {value!r}")
            for a in current:
                delays[a] = int(value)
        # other directives: tolerated and ignored per RFC 9309 §2.2.4
    return {"groups": groups, "delays": delays, "sitemaps": sitemaps}


def _robots_match(pattern: str, path: str) -> bool:
    """RFC 9309 §2.2.3 path matching: '*' matches any octet sequence,
    a trailing '$' anchors the end, and a pattern without wildcards is
    a plain prefix. Leftmost placement of each '*'-separated literal is
    sufficient for existence; the anchored tail is matched from the
    end."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")
    if not path.startswith(parts[0]):
        return False
    pos = len(parts[0])
    if len(parts) == 1:
        return pos == len(path) if anchored else True
    for i, part in enumerate(parts[1:], 1):
        if i == len(parts) - 1 and anchored:
            return (
                path.endswith(part) and len(path) - len(part) >= pos
            )
        if part == "":
            continue  # consecutive or trailing '*'
        idx = path.find(part, pos)
        if idx < 0:
            return False
        pos = idx + len(part)
    return True


def robots_allowed(rules: dict, agent: str, path: str) -> bool:
    """RFC 9309 §2.2.2 matching: pick the most specific user-agent group
    (exact agent else '*'; absent both -> allowed), then the MOST
    SPECIFIC matching rule wins — specificity is the pattern's octet
    length, wildcards included ('*' and trailing '$' patterns match per
    §2.2.3); Allow wins length ties; an empty Disallow value matches
    nothing."""
    groups = rules["groups"]
    rule_list = groups.get(agent.lower())
    if rule_list is None:
        rule_list = groups.get("*")
    if rule_list is None:
        return True
    best_len = -1
    best_allow = True
    for kind, rule_path in rule_list:
        if rule_path == "":
            continue  # empty Disallow/Allow matches nothing
        if _robots_match(rule_path, path):
            L = len(rule_path)
            allow = kind == "allow"
            if L > best_len or (L == best_len and allow):
                best_len, best_allow = L, allow
    return True if best_len < 0 else best_allow


def make_robots(site_id: int) -> str:
    """Deterministic robots.txt fixture: a '*' group and a 'trainbot'
    group with interleaved Allow/Disallow prefixes of DIFFERENT lengths
    under the same subtree (so longest-match decides, not rule order),
    a tie case (Allow and Disallow with equal-length prefixes), stacked
    user-agent lines, comments, an empty Disallow, a crawl-delay and
    sitemap lines."""
    i = site_id
    return "\n".join(
        [
            "# fixture robots",
            "User-agent: *",
            "Disallow: /private/",
            f"Crawl-delay: {1 + i % 5}",
            "",
            "User-agent: trainbot",
            "User-agent: otherbot",  # stacked agents share the group
            "Disallow: /data/",
            "Allow: /data/public/",
            f"Disallow: /data/public/secret{i % 3}/",
            "Allow: /tie/a",   # tie: equal length 6... '/tie/a' vs '/tie/b'
            "Disallow: /tie/a",  # equal-length tie on the SAME prefix: Allow wins
            "Disallow:",       # empty: matches nothing
            "Unknown-directive: ignored",
            f"Sitemap: https://s{i}.example/sitemap.xml",
        ]
    )


def make_robots_wild(site_id: int) -> str:
    """robots.txt fixture exercising RFC 9309 §2.2.3 WILDCARDS — the
    patterns real robots files lean on: a '$'-anchored extension block,
    a broad '/pub*' allow overridden by a longer disallow beneath it,
    and a '/*?session=' query-tracking block; the '*' group disallows
    everything so the group-override rule stays load-bearing."""
    return "\n".join(
        [
            "User-agent: *",
            "Disallow: /",
            "",
            "User-agent: trainbot",
            "Disallow: /*.pdf$",
            "Allow: /pub*",
            "Disallow: /pub/private*",
            "Disallow: /*?session=",
            f"# site {site_id}",
        ]
    )


_ROBOTS_SCHEMA = "site_id long, agent string, path string, allowed int"


def robots_decisions(df: DataFrame, *, id_col: str = "site_id") -> DataFrame:
    """Distributed crawl-gate evaluation (Arrow mapInPandas, map-only):
    parse each site's robots.txt once and decide a probe set of
    (agent, path) fetches — the admission stage of a crawl scheduler.
    Probes cover the longest-match, tie, group-fallback and
    group-override semantics so the oracle pins RFC 9309 matching, not
    just line parsing."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for sid, payload in zip(pdf[id_col], pdf["payload"]):
                sid = int(sid)
                rules = parse_robots(bytes(payload).decode("utf-8"))
                probes = [
                    "/data/x",
                    "/data/public/x",
                    f"/data/public/secret{sid % 3}/x",
                    f"/data/public/secret{(sid + 1) % 3}/x",
                    "/tie/a",
                    "/private/x",
                ]
                for agent in ("trainbot", "randombot"):
                    for path in probes:
                        rows.append(
                            {
                                "site_id": sid,
                                "agent": agent,
                                "path": path,
                                "allowed": int(robots_allowed(rules, agent, path)),
                            }
                        )
            yield pd.DataFrame(rows, columns=["site_id", "agent", "path", "allowed"])

    return df.select(id_col, "payload").mapInPandas(run, _ROBOTS_SCHEMA)


def robots_gate(
    pages: DataFrame,
    robots: DataFrame,
    agent: str,
    *,
    id_col: str = "site_id",
    path_col: str = "path",
) -> DataFrame:
    """Gate arbitrary frontier paths through each site's robots.txt: the
    per-site robots payloads (small — one row per HOST) broadcast-join
    onto the pages, then one Arrow pass evaluates RFC 9309 longest-match
    per row, memoizing the parsed rule set per site within each batch so
    a million pages of one host parse its robots once per partition.
    Adds an `allowed` int column; the pages never shuffle. Sites with NO
    robots row (the fetch 404'd) keep every page and gate it ALLOWED —
    RFC 9309's absent-robots rule — via a LEFT join, never by dropping
    frontier rows."""
    from pyspark.sql.functions import broadcast

    joined = pages.join(
        broadcast(robots.select(F.col(id_col), F.col("payload"))),
        id_col,
        "left",
    )
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in joined.schema.fields
        if f.name != "payload"
    ) + ", allowed int"

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            memo: dict[int, dict] = {}
            allowed = []
            for sid, payload, path in zip(
                pdf[id_col], pdf["payload"], pdf[path_col]
            ):
                if payload is None:
                    allowed.append(1)  # no robots.txt: everything allowed
                    continue
                sid = int(sid)
                if sid not in memo:
                    memo[sid] = parse_robots(bytes(payload).decode("utf-8"))
                allowed.append(int(robots_allowed(memo[sid], agent, str(path))))
            out = pdf.drop(columns=["payload"])
            out["allowed"] = allowed
            yield out

    return joined.mapInPandas(run, schema)


def html_metadata(col: Column) -> dict[str, Column]:
    """Page-level metadata extraction as PURE COLUMN EXPRESSIONS (same
    contract as `html_to_text`: RE2-safe regexps, DuckDB-replayable, runs
    at scan speed): <title>, the canonical link, meta description, the
    og:title card, and the html lang attribute — the five fields a
    page-curation pass groups and filters on. Attribute order and quote
    style (double/single/unquoted) vary freely in real HTML; since r16
    multi-instance fields resolve in DOCUMENT ORDER taking the first
    NON-EMPTY value, exactly html.parser/browser semantics (see
    _meta_attr_value). Absent fields yield empty strings (cast to NULL
    by the caller when preferred)."""
    # [^<>] + the bounded body are CPU-bomb guards (r12: an unclosed
    # <title> retried the to-end scan at every later opener, O(N²); no
    # real <title> approaches 2 KB, so the bound is a capacity line in
    # the bounds.py spirit, not a behavior change — a crafted page of
    # 110k bare openers now costs ~2 s, not minutes)
    # comments/script/style drop FIRST (r14 differential find: a
    # commented-out '<meta name="description">' was extracted as live —
    # a browser never sees it), then quoted-angle protection (ADVICE
    # r12): tags whose attribute values carry raw '<'/'>'
    # ('<meta name="description" content="a<b">') are invisible to the
    # [^<>] interiors below; protect once, extract, restore in every
    # captured value
    # The whole gated pre-pass/strip/protect pipeline is bound ONCE per
    # row via a lambda variable (dedup.bind_once) and every field reads
    # the bound value: the nested gates textually repeat their input
    # subtrees (each when() level repeats, multiplying to dozens of
    # chain instances across five fields), and the HOF-bearing fields
    # are CodegenFallback, where no subexpression elimination reaches —
    # ungated, the r16 A/B measured the five-field projection paying
    # the chain per field (`git show c14cfb8:tools/r16_extractor_ab.py`).
    prot = protected_html(col)

    def _fields(col: Column) -> Column:
        return F.struct(
            _meta_title(col).alias("title"),
            _meta_attr_value(col, "link", "rel", "canonical", "href")
            .alias("canonical"),
            _meta_attr_value(col, "meta", "name", "description", "content")
            .alias("description"),
            _meta_attr_value(col, "meta", "property", "og:title", "content")
            .alias("og_title"),
            _meta_lang(col).alias("lang"),
        )

    m = _bind_once(prot, _fields)
    return {k: m.getField(k)
            for k in ("title", "canonical", "description", "og_title",
                      "lang")}


def _meta_title(col: Column) -> Column:
    return restore_angles(F.regexp_extract(
        col, r"(?is)<title[^<>]*>(.{0,2048}?)</title\s*>", 1
    ))


def _meta_lang(col: Column) -> Column:
    lang_tok = F.regexp_extract(
        col,
        r'(?is)<html\b[^<>]*[\s"\'/]lang\s*=\s*("[^"]+"|' + "'[^']+'"
        r"|[^\s\x22\x27<>=\x60]+)", 1)
    return restore_angles(_strip_value_quotes(lang_tok))


def _meta_attr_value(col: Column, tag: str, disc_attr: str,
                     disc_value: str, value_attr: str) -> Column:
    # r16 (the last two pinned metadata shapes, both FIXED): ONE
    # full-page scan finds every discriminator-bearing tag in
    # DOCUMENT ORDER regardless of attribute arrangement; the value
    # attribute is then pulled from each SHORT tag token and the
    # first NON-EMPTY value wins — exactly html.parser/browser
    # resolution (first instance with a value; an empty instance
    # does not shadow a later real one). The old two-arrangement
    # whole-page extraction resolved by PATTERN PRIORITY instead
    # (an attr-reversed first instance lost to a canonical second),
    # and og:title's discriminator accepted quoted values only
    # (property=og:title is legal HTML5 — ':' is in the unquoted
    # class). Discriminator value match is EXACT (r15 review find):
    # quoted form closes its quote; unquoted form ends at
    # whitespace or the tag's own '>' — '/' stays IN the value
    # like html.parser's [^>\s]* class, so rel=canonical/> no
    # longer matches at all (it is "canonical/" to a parser).
    # [^<>]* interiors are the r12 CPU-bomb guard; requiring the
    # closing '>' matches html.parser, which drops unterminated
    # start tags at EOF. slice(8) bounds the per-page transform
    # work (bounds.py-spirit capacity: a page whose first EIGHT
    # discriminator tags are all value-less falls back to empty).
    tag_pat = (
        rf"(?is)<{tag}\b[^<>]*[\s\"'/]{disc_attr}\s*=\s*"
        rf"(?:[\"']{disc_value}[\"'][^<>]*|{disc_value}\s[^<>]*"
        rf"|{disc_value})>"
    )
    tags = F.slice(
        F.regexp_extract_all(col, F.lit(tag_pat), F.lit(0)), 1, 8)
    val_pat = rf"(?is)[\s\"'/]{value_attr}\s*=\s*{_VAL_TOKEN}"
    # the lambda captures NO outer expressions (the r6
    # HOF-recompute trap); each extract runs on a tag-length token
    vals = F.transform(tags, lambda t: restore_angles(
        _strip_value_quotes(F.regexp_extract(t, val_pat, 1))))
    nonempty = F.filter(vals, lambda v: v != "")
    return F.coalesce(F.try_element_at(nonempty, F.lit(1)), F.lit(""))


# --- outlink graph: the WAT-style link-extraction pass (Common Crawl
# ships it as a separate product because the outlink graph drives crawl
# scheduling, host reputation, and PageRank-style quality priors) -------


_A_TAG_RE = r"(?is)<a\b[^<>]*>"  # [^<>]: r12 CPU-bomb guard (see html_metadata)


def outlink_edges(df: DataFrame, *, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """HOST-level outlink edges (src_host, dst_host, links) from raw
    HTML at scan speed — regexp_extract_all for the hrefs, pure column
    expressions for resolution, one groupBy shuffle for the counts.

    Resolution is host-exact rather than path-exact: absolute links
    carry their own host, protocol-relative (`//host/..`) carry theirs
    (the scheme is irrelevant at host granularity), and root-relative
    AND path-relative links stay on the page host — which is exactly
    right for a host graph (path dot-segment merging per RFC 3986 §5.2
    would change no edge). Non-fetch schemes
    (mailto:, javascript:, data:, tel:) and fragment-only links drop.
    Hosts lowercase (DNS is case-insensitive); paths are not emitted.

    The heavy regexp_extract_all is projected in its OWN select below
    the explode (the explode-recompute trap: a sibling expression of
    explode re-evaluates per output row)."""
    url = F.col(url_col)
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    staged = df.select(
        host.alias("src_host"),
        # comments/script/style drop first (r14 differential find: a
        # commented-out '<a href>' minted phantom host edges), then
        # quoted-angle protection (ADVICE r12): an <a> tag whose OTHER
        # attributes carry raw '<'/'>' in quoted values would otherwise
        # never match the linear _A_TAG_RE
        # bind_once (r16): the gated pre-pass/strip/protect gates
        # textually repeat their input subtrees; binding the pipeline
        # to a lambda variable guarantees ONE evaluation per row even
        # where subexpression elimination cannot reach (CodegenFallback
        # contexts) — see `git show c14cfb8:tools/r16_extractor_ab.py`
        _bind_once(
            protected_html(F.col(html_col)),
            lambda p: F.regexp_extract_all(p, F.lit(_A_TAG_RE), F.lit(0)),
        ).alias("_atags"),
    )
    links = staged.select(
        "src_host", F.explode("_atags").alias("_tag")
    )
    # per-quote href pull: the quote after '=' picks the pattern, so
    # values containing the OTHER quote char survive intact
    href_tok = F.regexp_extract(
        F.col("_tag"), rf"(?is)[\s\"'/]href\s*=\s*{_VAL_TOKEN}", 1
    )
    links = links.select(
        "src_host",
        restore_angles(_strip_value_quotes(href_tok)).alias("_link"),
    )
    link = F.col("_link")
    is_abs = link.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    is_proto = link.startswith("//")
    is_scheme_only = link.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")  # mailto: etc.
    dst = (
        F.when(
            is_abs,
            F.lower(
                F.regexp_extract(
                    link, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1
                )
            ),
        )
        .when(is_proto, F.lower(F.regexp_extract(link, r"^//([^/?#]+)", 1)))
        .when(is_scheme_only | link.startswith("#") | (link == ""), F.lit(None))
        .otherwise(F.col("src_host"))  # root- or path-relative: same host
    )
    return (
        links.select("src_host", dst.alias("dst_host"))
        .filter(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("links"))
    )


# --- Bloom-filter crawl-frontier dedup: "have we already fetched this
# URL" against a history of billions WITHOUT joining the frontier to the
# history — the filter is a compact bitmap every executor can hold ------


def _bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """k deterministic bit positions from DISJOINT 8-hex-digit windows
    of md5 — the engine-portable hash family (same values in DuckDB via
    ('0x' || substr(md5(u), ...))::BIGINT). k <= 4 (md5 has 32 hex
    digits)."""
    if not 1 <= k <= 4:
        raise ValueError("k must be 1..4 (md5 yields four 8-digit windows)")
    return [
        F.conv(F.substring(F.md5(col), 1 + 8 * i, 8), 16, 10).cast("long")
        % m_bits
        for i in range(k)
    ]


def build_bloom(
    history: DataFrame, *, url_col: str = "url", m_bits: int = 1 << 15,
    k: int = 3,
) -> DataFrame:
    """Fold a URL history into Bloom-filter words: (word, mask) rows
    with mask the bit_or of 32-bit lanes. ONE aggregation whose output
    is bounded by m_bits/32 rows regardless of history size — the whole
    point at 100 TB: the history is scanned once and reduced to a
    broadcastable bitmap, never joined row-to-row against the
    frontier."""
    pos = _bloom_positions(F.col(url_col), m_bits, k)
    stacked = history.select(
        F.explode(F.array(*pos)).alias("_pos")
    )
    return (
        stacked.select(
            (F.col("_pos") / 32).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(_pos % 32 AS int))").alias("_m"),
        )
        .groupBy("word")
        .agg(F.bit_or("_m").alias("mask"))
    )


def frontier_not_seen(
    frontier: DataFrame, bloom: DataFrame, *, url_col: str = "url",
    m_bits: int = 1 << 15, k: int = 3,
) -> DataFrame:
    """Frontier rows whose URL is NOT (probably) in the history: each of
    the k bit positions probes the broadcast filter with its own
    map-side join — the frontier itself never shuffles — and a candidate
    survives unless ALL k bits are set. False positives (dropping a
    never-fetched URL) are the documented Bloom trade; false negatives
    cannot happen, so nothing is ever fetched twice."""
    from pyspark.sql.functions import broadcast

    pos = _bloom_positions(F.col(url_col), m_bits, k)
    df = frontier
    hit_cols = []
    gen_cols = []  # exact generated names — never touch caller columns
    for i, p in enumerate(pos):
        pc, wc, bc = f"__bloom_p{i}", f"__bloom_w{i}", f"__bloom_b{i}"
        jw, jm = f"__bloom_jw{i}", f"__bloom_jm{i}"
        gen_cols += [pc, wc, bc, jw, jm]
        df = (
            df.withColumn(pc, p)
            .withColumn(wc, (F.col(pc) / 32).cast("long"))
            .withColumn(bc, F.expr(f"shiftleft(1L, cast({pc} % 32 AS int))"))
        )
        b = bloom.select(
            F.col("word").alias(jw), F.col("mask").alias(jm)
        )
        df = df.join(broadcast(b), F.col(wc) == F.col(jw), "left")
        hit_cols.append(
            F.coalesce(
                (F.col(jm).bitwiseAND(F.col(bc)) != 0),
                F.lit(False),
            )
        )
    seen = hit_cols[0]
    for h in hit_cols[1:]:
        seen = seen & h
    return df.filter(~seen).drop(*gen_cols)


# --- image-text pair mining: the CLIP-style multimodal dataset shape —
# every <img> with its alt text, resolved to fetchable URLs ---------------


_IMG_RE = r"(?is)<img\b[^<>]*>"  # [^<>]: r12 CPU-bomb guard (see html_metadata)


def image_refs(df: DataFrame, *, html_col: str = "html",
               url_col: str = "url") -> DataFrame:
    """(page_url, img_url, alt) rows from raw HTML at scan speed — the
    seeding stage of an image-text-pair dataset: img tags extracted with
    regexp_extract_all, src and alt pulled per tag in EITHER attribute
    order, srcs resolved per RFC 3986 §5.3 (r15: protocol-relative take
    the page scheme, root-relative the page host, path-relative merge
    onto the page directory, query-/fragment-only keep the page path,
    and dot segments COLLAPSE like a browser — remove_url_dot_segments;
    previously '../x' was glued onto the directory verbatim, so the
    same image reached the corpus under multiple URLs and defeated
    URL-level dedup). data: URIs and srcless tags drop. Tags without
    alt keep an empty string — downstream filters decide whether
    captionless images survive, not the extractor.

    The tag array is projected in its OWN select below the explode
    (the explode-recompute trap)."""
    url = F.col(url_col)
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    # the page's directory for path-relative srcs: strip the last segment
    basedir = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
        r"[^/]*$", "",
    )
    basedir = F.when(basedir == "", F.lit("/")).otherwise(basedir)
    staged = df.select(
        url.alias("page_url"),
        scheme.alias("_scheme"),
        host.alias("_host"),
        basedir.alias("_dir"),
        # full page path + query, for query-/fragment-only refs (RFC
        # 3986 §5.3: they keep the page path, not the directory)
        F.regexp_extract(
            url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
        ).alias("_path"),
        F.regexp_extract(url, r"^[^?#]*(\?[^#]*)", 1).alias("_query"),
        # comments/script/style drop first (r14 differential find:
        # commented-out '<img>' tags were extracted as live), then
        # quoted-angle protection (ADVICE r12): alt text like "a<b" would
        # otherwise hide the whole tag from the linear _IMG_RE
        # bind_once (r16): one evaluation of the gated pipeline per row
        # (see outlink_edges / `git show c14cfb8:tools/r16_extractor_ab.py`)
        _bind_once(
            protected_html(F.col(html_col)),
            lambda p: F.regexp_extract_all(p, F.lit(_IMG_RE), F.lit(0)),
        ).alias("_tags"),
    )
    tags = staged.select(
        "page_url", "_scheme", "_host", "_dir", "_path", "_query",
        F.explode("_tags").alias("_tag"),
    )
    tag = F.col("_tag")

    def _attr(name: str) -> Column:
        tok = F.regexp_extract(
            tag, rf"(?is)[\s\"'/]{name}\s*=\s*{_VAL_TOKEN}", 1
        )
        return restore_angles(_strip_value_quotes(tok))

    src = _attr("src")
    alt = _attr("alt")
    is_abs = src.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    is_proto = src.startswith("//")
    is_data = src.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")  # data:, blob:, ...
    # RFC 3986 §5.3 reference resolution (r15 urljoin cross-check
    # probe): query-only refs replace the page query but KEEP the page
    # path (not the directory), fragment-only refs keep path AND query
    # — the old code joined both onto the directory like a filename.
    raw = (
        F.when(is_abs, src)
        .when(is_proto, F.concat(F.col("_scheme"), F.lit(":"), src))
        .when(src.startswith("/"),
              F.concat(F.col("_scheme"), F.lit("://"), F.col("_host"), src))
        .when(src.startswith("?"),
              F.concat(F.col("_scheme"), F.lit("://"), F.col("_host"),
                       F.col("_path"), src))
        .when(src.startswith("#"),
              F.concat(F.col("_scheme"), F.lit("://"), F.col("_host"),
                       F.col("_path"), F.col("_query"), src))
        .when(is_data | (src == ""), F.lit(None))
        .otherwise(
            F.concat(
                F.col("_scheme"), F.lit("://"), F.col("_host"),
                F.col("_dir"), src,
            )
        )
    )
    # the dot-segment collapse goes in its OWN projection over a
    # materialized _raw column: inlining it over the raw when-chain
    # repeats that chain at every reference and the combined expression
    # exceeds janino's method-size budget — codegen fails to compile
    # and the WHOLE projection drops to interpreted evaluation
    # (r15 spot-measure: −50% on image_refs). Multi-use of a non-cheap
    # alias keeps CollapseProject from merging the two selects.
    staged_out = tags.select(
        "page_url", raw.alias("_raw"), alt.alias("alt")
    )
    return (
        staged_out.select(
            "page_url",
            remove_url_dot_segments(F.col("_raw")).alias("img_url"),
            "alt",
        )
        .filter(F.col("img_url").isNotNull())
    )
