"""Generated-page differential: the regex HTML extractors vs stdlib
html.parser (r13 verdict ask #3). html_metadata / outlink_edges /
image_refs / html_to_text are RE2-safe column expressions by design
(scan speed, DuckDB-replayable), so a DOM-based parser is the right
independent reference — the existing test_stdlib_conformance fixtures
are hand-written; this file GENERATES conforming pages (random
attribute order/quote style/tag case/whitespace, entities from the
decoded set, comments and script/style blocks carrying embedded
markup, quoted attribute values with raw angles up to the documented
<=2-of-each capacity) and demands exact agreement page by page.

Round-14 finds, fixed in llmdata/warc.py and pinned in the directed
cases below:
  1. the extractors read COMMENTED-OUT and SCRIPT-EMBEDDED markup as
     live — '<a href>' inside '<!-- -->' or inside a document.write
     string minted phantom outlink edges, and a commented-out
     '<meta name="description">' could win the metadata pull;
     html.parser (comments are non-events, script/style are CDATA) and
     browsers never see them. Now all three attribute extractors share
     html_to_text's strip_nontext_blocks pre-pass (closed-sentinel
     linearity preserved).
  2. protect_quoted_angles' per-pass scan classes excluded BOTH angle
     kinds, so the '<'-scan could not cross a raw '>' still awaiting
     its own pass: a value like "c>d c>d a<b" exhausted both passes on
     '>' and leaked the tag — the documented two-of-each capacity held
     only in favorable orders. The '<'-scan now excludes only the
     quote and '<' (and the '>'-scan mirrors), making the capacity
     order-independent; linearity still bounds every scan at the next
     quote.

Round-15 fix bundle (staged in r14 as `git show c14cfb8:tools/r15_html_candidate.py`,
landed this round) — the generator grammar EXTENDED to cover all
three fixed classes as standing coverage:
  3. protect v3b: the angle-protection anchors gained a lazy tag-open
     prefix, so a BODY-TEXT '="' can no longer sentinel a following
     real tag (the r14-pinned divergence); capacity is now FOUR of
     each angle kind per TAG, order-independent.
  4. whitespace around the attribute '=' (valid HTML5) is accepted by
     every html_metadata pull and the protect anchors, not just the
     outlink/image pulls.
  5. UNQUOTED attribute values (HTML5 class [^\\s"'<>=`]+) are read by
     every attribute pull (href, src, alt, content, canonical href,
     lang) and by the rel/name/property discriminators.

The generator stays inside the documented contract: no unclosed
quotes and no quoted block-opener literals ('<!--', '<script',
'<style', '<![CDATA[' inside an attribute value — strip-before-
protect capacity, pinned in test_bombs.py), no INTERLEAVED block
openers (a comment containing a CDATA opener or vice versa: the strip
passes run per-type, not in document order, so pathological
interleavings resolve type-first where html.parser resolves
document-first), <=2 raw angles of each kind per attribute value and
<=2 angle-bearing values per tag (the 4-per-tag capacity line),
titles under the 2 KB bound, entities from the decoded set only in
text positions, at most one instance of each metadata field per page
(pattern-priority resolution stays a pinned divergence).
"""

from __future__ import annotations

import random
import re
from collections import Counter
from html.parser import HTMLParser

from pyspark.sql import functions as F

from query_engine_spark.llmdata import warc as W

WORDS = ["alpha", "beta", "gamma", "delta", "omega", "lorem", "ipsum",
         "data", "crawl", "page", "text", "word", "quick", "brown", "fox",
         "jumps", "over", "lazy", "dog", "zebra"]
ENTS = ["&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&apos;"]
PUNCT = [".", ",", "!", "?", ":", ";", "(", ")"]
HOSTS = ["other.example", "cdn.example", "news.example", "shop.example"]


class _PageGen:
    """Conforming-page generator (contract documented in the module
    docstring)."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def words(self, lo=1, hi=6, ents=True):
        r = self.rng
        toks = []
        for _ in range(r.randint(lo, hi)):
            t = r.choice(WORDS)
            if ents and r.random() < 0.15:
                t = r.choice(ENTS)
            elif r.random() < 0.2:
                t += r.choice(PUNCT)
            toks.append(t)
        return " ".join(toks)

    def attr_value(self, angles=True):
        r = self.rng
        v = self.words(1, 4, ents=False)
        if angles and r.random() < 0.35:
            # raw angles inside a QUOTED value, any order, <=2 each
            parts = [v] + ["a<b"] * r.randint(0, 2) + ["c>d"] * r.randint(0, 2)
            r.shuffle(parts)
            v = " ".join(parts)
        return v

    def tagcase(self, t):
        r = self.rng
        if r.random() < 0.2:
            return t.upper()
        if r.random() < 0.1:
            return t.capitalize()
        return t

    def q(self, v, force=None):
        style = force or self.rng.choice(['"', "'"])
        if style == '"' and '"' in v:
            style = "'"
        if style == "'" and "'" in v:
            style = '"'
        return style + v + style

    def eq(self):
        # r15: whitespace around the attribute '=' is valid HTML5
        return self.rng.choice(["=", " = ", "= ", " =", "="])

    def q_or_unq(self, v, force=None):
        # r15: sometimes emit the value UNQUOTED (valid HTML5 when free
        # of whitespace / quotes / angles / '=' / backtick)
        r = self.rng
        if force is None and r.random() < 0.3 and v and not any(
                c in v for c in " \t\n\"'<>=`"):
            return v
        return self.q(v, force)

    def ws(self):
        return self.rng.choice([" ", "  ", " \n ", "\t"])

    # r16: inline-handler values are IN the grammar, including the
    # block-opener-literal tail (document.write / innerHTML strings
    # that embed '<script'/'<style'/'<!--' as TEXT — a browser never
    # treats them as block starts; protect_quoted_block_openers makes
    # the extractors agree). Contract exclusions that remain, both
    # pinned in test_bombs.py: a raw NON-opener '<' BEFORE the first
    # opener in the same value (the linear value scan cannot cross it
    # without lookahead), and a RAW own-tag terminator literal
    # ('</style>' unescaped in a style tag's own handler — the
    # terminator-sentinel design was probed and REVERTED in-round: it
    # could not distinguish a real tag from a '<script ... =' lookalike
    # inside script data and broke real termination; the pools use the
    # '<\\/' JS-escaped form real-world inline code uses). Values are
    # single-quote-only so they wrap in double quotes entity-free.
    HANDLER_JS = [
        "return confirm('Sure?');",
        "ga('send','pv');",
        "window.open(this.href); return false;",
        "if (a<b && c>d) { t('x'); }",
        "document.write('<script src=/ads.js><\\/script>');",
        "el.innerHTML = '<style>.x{display:none}<\\/style>';",
        "var t = '<!--[if IE]>x<![endif]-->';",
    ]

    def extra_attrs(self, n=2):
        r = self.rng
        out = []
        for _ in range(r.randint(0, n)):
            name = r.choice(["class", "id", "data-x", "data-y", "style"])
            out.append(name + self.eq() + self.q_or_unq(self.attr_value()))
        if r.random() < 0.1:
            out.append(r.choice(["onclick", "onmouseover", "onsubmit"])
                       + self.eq() + '"' + r.choice(self.HANDLER_JS) + '"')
        return out

    def tag(self, name, attrs, selfclose=False):
        parts = [self.tagcase(name)] + attrs
        inner = self.ws().join(parts)
        return "<" + inner + ("/>" if selfclose and self.rng.random() < 0.5 else ">")

    def head(self):
        r = self.rng
        bits = []
        if r.random() < 0.85:
            bits.append(
                self.tag("title", []) + self.words(1, 5)
                + "</" + self.tagcase("title") + r.choice(["", " "]) + ">")
        # r16: multi-instance metadata and unquoted og:title are IN the
        # grammar now (document-order first-non-empty resolution is
        # implemented, so the old at-most-one-instance contract and the
        # quoted-only og:title restriction are both lifted); attribute
        # order varies per instance so pattern-priority regressions
        # cannot hide
        for _ in range(1 + (r.random() < 0.25)):
            if r.random() < 0.8:
                attrs = [
                    "name" + self.eq() + self.q_or_unq("description"),
                    "content" + self.eq() + self.q(self.attr_value()),
                ]
                if r.random() < 0.4:
                    attrs.reverse()
                bits.append(self.tag("meta", attrs + self.extra_attrs(1),
                                     selfclose=True))
            if r.random() < 0.6:
                attrs = [
                    "property" + self.eq() + self.q_or_unq("og:title"),
                    "content" + self.eq() + self.q(self.attr_value()),
                ]
                if r.random() < 0.4:
                    attrs.reverse()
                bits.append(self.tag("meta", attrs, selfclose=True))
            if r.random() < 0.6:
                attrs = [
                    "rel" + self.eq() + self.q_or_unq("canonical"),
                    "href" + self.eq() + self.q_or_unq(
                        "http://c.example/" + r.choice(WORDS)),
                ]
                if r.random() < 0.4:
                    attrs.reverse()
                bits.append(self.tag("link", attrs, selfclose=True))
        r.shuffle(bits)
        if r.random() < 0.3:
            bits.insert(r.randint(0, len(bits)),
                        "<!-- head comment with <fake tag=1> inside -->")
        html_attrs = self.extra_attrs(1)
        if r.random() < 0.7:
            html_attrs.append("lang" + self.eq() + self.q_or_unq(
                r.choice(["en", "fr-CA", "de", "pt-br"])))
        r.shuffle(html_attrs)
        return (self.tag("html", html_attrs) + self.tag("head", [])
                + " ".join(bits) + "</head>")

    def link(self):
        r = self.rng
        kind = r.random()
        if kind < 0.3:
            return (r.choice(["http", "https", "HTTP"]) + "://"
                    + r.choice(HOSTS) + "/" + r.choice(WORDS))
        if kind < 0.4:
            return "//" + r.choice(HOSTS) + "/p"
        if kind < 0.5:
            return "/" + r.choice(WORDS)
        if kind < 0.6:
            return r.choice(WORDS) + ".html"
        if kind < 0.7:
            return r.choice(["mailto:x@y.example", "javascript:void(0)",
                             "tel:+15551234567", "data:text/plain,hi"])
        if kind < 0.75:
            return "#frag"
        if kind < 0.85:
            # r15: dot-segment and query-only relative refs — RFC 3986
            # §5.2.4/§5.3 resolution (the extractor collapses like a
            # browser; the reference uses urljoin + the spec algorithm)
            return r.choice([
                "../" + r.choice(WORDS) + ".png",
                "./" + r.choice(WORDS),
                r.choice(WORDS) + "/../" + r.choice(WORDS) + ".png",
                "../../" + r.choice(WORDS),
                "?x=9&y=" + r.choice(WORDS),
                "/" + r.choice(WORDS) + "/./" + r.choice(WORDS),
                # r16 (ADVICE r15): dot segment terminated by '?'/'#'
                # rather than '/' — the gate regex must still collapse
                "..?v=" + r.choice(WORDS),
                ".#" + r.choice(WORDS),
                r.choice(WORDS) + "/..#s",
                "/" + r.choice(WORDS) + "/.?q=1",
            ])
        if kind < 0.9:
            return ""
        return "https://" + r.choice(HOSTS) + ":8443/q?a=1&b=2"

    def body(self):
        r = self.rng
        bits = []
        for _ in range(r.randint(2, 8)):
            k = r.random()
            if k < 0.3:
                blk = r.choice(["p", "div", "li", "h1", "h2", "blockquote"])
                inline = ""
                if r.random() < 0.4:
                    it = r.choice(["b", "i", "span", "em"])
                    inline = (self.tag(it, self.extra_attrs(1))
                              + self.words(1, 3) + f"</{it}>")
                bits.append(self.tag(blk, self.extra_attrs())
                            + self.words(1, 6) + " " + inline
                            + f"</{self.tagcase(blk)}>")
            elif k < 0.45:
                bits.append(self.tag("a", ["href" + self.eq()
                                           + self.q_or_unq(self.link())]
                                     + self.extra_attrs())
                            + self.words(1, 3) + "</a>")
            elif k < 0.6:
                attrs = ["src" + self.eq()
                         + self.q_or_unq(self.link() or "/i.png")]
                if r.random() < 0.7:
                    attrs.append("alt" + self.eq() + self.q(self.attr_value()))
                bits.append(self.tag("img", attrs + self.extra_attrs(1),
                                     selfclose=True))
            elif k < 0.7:
                # comments carrying markup a browser never parses —
                # find #1's shape
                bits.append("<!-- " + self.words(1, 4, ents=False)
                            + r.choice(["", " <p>fake</p>", " <a href='x'>",
                                        " <meta name='description'"
                                        " content='FAKE'>",
                                        " <img src='/fake.png' alt='nope'>",
                                        " <a href='http://fake.example/z'>"
                                        "dead</a>"])
                            + " -->")
            elif k < 0.8:
                t = r.choice(["script", "style"])
                body = r.choice([
                    "var x = 1;", "p { color: red }",
                    'if (a<b && c>d) { go("x"); }',
                    "// <p>markup in code</p>",
                    "document.write(\"<a href='http://fake.example/w'>y"
                    "</a>\");",
                    "var h = \"<img src='/fake2.png' alt='no'>\";",
                ])
                bits.append(self.tag(t, self.extra_attrs(1)) + body + f"</{t}>")
            elif k < 0.9:
                # r15: the once-pinned TEXT-LEVEL '="' shape — the v3b
                # protect must no longer sentinel the following real tag
                bits.append(self.words(1, 3, ents=False)
                            + ' x=" ' + self.words(1, 2, ents=False)
                            + " <b>" + self.words(1, 2, ents=False)
                            + "</b>")
            else:
                bits.append(self.words(2, 8))
            if r.random() < 0.3:
                bits.append(r.choice(["<br>", "<br/>", "<BR >"]))
        return "<body>" + " ".join(bits) + "</body></html>"

    def page(self):
        return self.head() + self.body()


# --- html.parser references (event callbacks, no regexes over tags) --------


def _ref_metadata(html):
    fields = {"title": "", "canonical": "", "description": "",
              "og_title": "", "lang": ""}

    class P(HTMLParser):
        in_title = False

        def handle_starttag(self, tag, attrs):
            a = dict(attrs)
            if tag == "title":
                self.in_title = True
            elif tag == "html" and a.get("lang") and not fields["lang"]:
                fields["lang"] = a["lang"]
            elif tag == "link" and a.get("rel") == "canonical":
                if not fields["canonical"]:
                    fields["canonical"] = a.get("href") or ""
            elif tag == "meta":
                if a.get("name") == "description" and not fields["description"]:
                    fields["description"] = a.get("content") or ""
                if a.get("property") == "og:title" and not fields["og_title"]:
                    fields["og_title"] = a.get("content") or ""

        def handle_endtag(self, tag):
            if tag == "title":
                self.in_title = False

        def handle_data(self, data):
            if self.in_title:
                fields["title"] += data

        # convert_charrefs=False routes entities to their own events —
        # the regex layer keeps them raw, so re-encode them raw here
        def handle_entityref(self, name):
            if self.in_title:
                fields["title"] += f"&{name};"

        def handle_charref(self, name):
            if self.in_title:
                fields["title"] += f"&#{name};"

    p = P(convert_charrefs=False)
    p.feed(html)
    return fields


def _host_of(u):
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", u)
    return m.group(1).lower() if m else None


def _ref_outlinks(url, html):
    src = _host_of(url)
    hrefs = []

    class P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag == "a":
                a = dict(attrs)
                if a.get("href") is not None:
                    hrefs.append(a["href"])

    p = P(convert_charrefs=False)
    p.feed(html)
    edges = Counter()
    for h in hrefs:
        if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", h):
            dst = _host_of(h)
        elif h.startswith("//"):
            m = re.match(r"^//([^/?#]+)", h)
            dst = m.group(1).lower() if m else None
        elif re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", h) or h.startswith("#") or h == "":
            dst = None
        else:
            dst = src
        if dst:
            edges[(src, dst)] += 1
    return edges


def _spec_remove_dot_segments(path):
    """RFC 3986 §5.2.4, the spec's buffer algorithm verbatim —
    deliberately different machinery from warc.py's bounded iterative
    regex passes, so a shared bug cannot cancel."""
    out = []
    buf = path
    while buf:
        if buf.startswith("../"):
            buf = buf[3:]
        elif buf.startswith("./"):
            buf = buf[2:]
        elif buf.startswith("/./"):
            buf = "/" + buf[3:]
        elif buf == "/.":
            buf = "/"
        elif buf.startswith("/../"):
            buf = "/" + buf[4:]
            if out:
                out.pop()
        elif buf == "/..":
            buf = "/"
            if out:
                out.pop()
        elif buf in (".", ".."):
            buf = ""
        else:
            m = re.match(r"^/?[^/]*", buf)
            out.append(m.group(0))
            buf = buf[len(m.group(0)):]
    return "".join(out)


def _ref_resolve(page_url, ref):
    """urljoin for the RFC 3986 §5.3 merge + the spec algorithm for
    dot-segment removal applied to the result's path (urljoin leaves
    ABSOLUTE refs untouched; browsers still collapse their dot
    segments when parsing). The r15 generator avoids urljoin's known
    stdlib quirk (empty path segments 'a//b' are collapsed where the
    WHATWG parser keeps them)."""
    from urllib.parse import urljoin

    resolved = urljoin(page_url, ref)
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)([^?#]*)(.*)$",
                 resolved)
    if not m:
        return resolved
    return m.group(1) + _spec_remove_dot_segments(m.group(2)) + m.group(3)


def _ref_images(url, html):
    tags = []

    class P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag == "img":
                tags.append(dict(attrs))

    p = P(convert_charrefs=False)
    p.feed(html)
    out = []
    for a in tags:
        src, alt = a.get("src"), a.get("alt") or ""
        if not src:
            continue
        if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:(?!//)", src):
            continue  # data:, blob:, mailto: — opaque schemes drop
        out.append((_ref_resolve(url, src), alt))
    return sorted(out)


def _ref_text(html):
    chunks = []
    skip = {"script", "style"}

    class P(HTMLParser):
        depth = 0

        def handle_starttag(self, tag, attrs):
            if tag in skip:
                self.depth += 1

        def handle_endtag(self, tag):
            if tag in skip and self.depth:
                self.depth -= 1

        def handle_data(self, data):
            if not self.depth:
                chunks.append(data)

    p = P(convert_charrefs=True)
    p.feed(html)
    return " ".join(" ".join(chunks).replace("\xa0", " ").split())


def _run_differential(spark, pages):
    """pages: list of (i, url, html). Returns dict of divergence lists."""
    df = spark.createDataFrame(pages, "i int, url string, html string")
    div = {"meta": [], "links": [], "imgs": [], "text": []}

    m = W.html_metadata(F.col("html"))
    got_meta = {r["i"]: r for r in df.select(
        "i", m["title"].alias("title"), m["canonical"].alias("canonical"),
        m["description"].alias("description"),
        m["og_title"].alias("og_title"), m["lang"].alias("lang")).collect()}
    for i, url, html in pages:
        want = _ref_metadata(html)
        have = {k: got_meta[i][k] for k in want}
        if want != have:
            div["meta"].append((i, {k: (want[k], have[k])
                                    for k in want if want[k] != have[k]}))

    # per-page outlinks: a synthetic per-page host keys edges to pages
    df2 = df.withColumn("url2", F.concat(
        F.lit("https://pg"), F.col("i").cast("string"),
        F.lit(".example/x/y.html")))
    got_pl = {}
    for r in W.outlink_edges(df2, html_col="html", url_col="url2").collect():
        i = int(r["src_host"][2:].split(".")[0])
        got_pl.setdefault(i, Counter())[
            (r["src_host"], r["dst_host"])] = r["links"]
    for i, url, html in pages:
        want = _ref_outlinks(f"https://pg{i}.example/x/y.html", html)
        have = got_pl.get(i, Counter())
        if want != have:
            div["links"].append((i, {k: (want.get(k, 0), have.get(k, 0))
                                     for k in set(want) | set(have)
                                     if want.get(k, 0) != have.get(k, 0)}))

    by_url = {url: i for i, url, _ in pages}
    got_pi = {}
    for r in W.image_refs(df, html_col="html", url_col="url").collect():
        got_pi.setdefault(by_url[r["page_url"]], []).append(
            (r["img_url"], r["alt"]))
    for i, url, html in pages:
        want = _ref_images(url, html)
        have = sorted(got_pi.get(i, []))
        if want != have:
            div["imgs"].append((i, want, have))

    got_text = {r["i"]: " ".join(r["t"].split()) for r in df.select(
        "i", W.html_to_text(F.col("html")).alias("t")).collect()}
    for i, url, html in pages:
        want = _ref_text(html)
        if got_text[i] != want:
            div["text"].append((i, want, got_text[i]))
    return div


def test_html_differential_generated_pages(spark):
    """1200 generated conforming pages: all four extractors agree
    exactly with the html.parser references (the r13 probe at 200 pages
    surfaced both r14 finds; 1200 pinned here, 600 more probed
    in-session post-fix with zero divergences)."""
    pages = []
    for seed in range(1200):
        g = _PageGen(random.Random(1000 + seed))
        pages.append((seed, f"https://site{seed % 17}.example/"
                            f"dir{seed % 5}/p{seed}.html", g.page()))
    div = _run_differential(spark, pages)
    bad = {k: v[:4] for k, v in div.items() if v}
    assert not bad, f"extractor divergences: {bad}"


def test_html_differential_directed_finds(spark):
    """The two r14 find classes as directed reproducers."""
    def txt(s):
        return spark.createDataFrame([(s,)], "html string").select(
            W.html_to_text(F.col("html")).alias("t")).collect()[0]["t"]

    # find #1: commented-out / script-embedded markup is NOT live
    pages = [
        ("https://s.example/p",
         "<!-- <a href='http://fake.example/z'>dead</a> -->"
         "<a href='https://real.example/x'>go</a>"
         "<script>document.write(\"<a href='http://fake2.example/w'>y"
         "</a>\");</script>"),
    ]
    df = spark.createDataFrame(pages, "url string, html string")
    edges = {(r["src_host"], r["dst_host"]): r["links"]
             for r in W.outlink_edges(df).collect()}
    assert edges == {("s.example", "real.example"): 1}

    meta = W.html_metadata(F.col("html"))
    row = spark.createDataFrame(
        [("<html><head><!-- <meta name='description' content='FAKE'> -->"
          '<meta name="description" content="real desc"/></head>'
          "<body><!-- <img src='/fake.png' alt='x'> -->"
          '<img src="/real.png" alt="y"></body></html>',)],
        "html string",
    ).select(meta["description"].alias("d")).collect()[0]
    assert row["d"] == "real desc"

    imgs = W.image_refs(
        spark.createDataFrame(
            [("https://s.example/p",
              "<!-- <img src='/fake.png' alt='x'> -->"
              '<img src="/real.png" alt="y">'
              "<script>var h = \"<img src='/fake2.png'>\";</script>")],
            "url string, html string",
        )).collect()
    assert [(r["img_url"], r["alt"]) for r in imgs] == [
        ("https://s.example/real.png", "y")]

    # find #2: mixed-ORDER raw angles in one quoted value, <=2 of each —
    # previously the '<'-scan could not cross the unprotected '>'s and
    # the tag leaked into text / vanished from the extractors
    assert txt('<div data-x="c>d c>d a<b">T</div> z') == "T\nz"
    assert txt("<div data-x='a<b c>d c>d'>T</div> z") == "T\nz"
    row = spark.createDataFrame(
        [('<meta name="description" content="c>d c>d a<b ok"/>',)],
        "html string",
    ).select(meta["d"] if False else W.html_metadata(F.col("html"))[
        "description"].alias("d")).collect()[0]
    assert row["d"] == "c>d c>d a<b ok"
    # r15 capacity line: FOUR of each angle kind per tag (v3b runs four
    # passes, one angle of each kind per TAG per pass); a fifth falls
    # back to the fragment behavior
    assert txt('<div data-x="a<b<c<d<e">T</div> z') == "T\nz"
    assert txt('<div data-x="a<b<c<d<e<f">T</div> z') == (
        '<div data-x="a<b<c<d<e T\nz')

    # r15 find-class reproducers (the three fixed pinned divergences)
    # text-level '="': body text can no longer sentinel the next tag
    assert txt('wrote x=" then <b>bold</b> end') == 'wrote x=" then bold end'
    edges = {(r["src_host"], r["dst_host"]): r["links"]
             for r in W.outlink_edges(spark.createDataFrame(
                 [("https://s.example/p",
                   'x=" junk <a href="https://other.example/z">go</a>')],
                 "url string, html string")).collect()}
    assert edges == {("s.example", "other.example"): 1}
    # spaced '=' accepted by every html_metadata pull + protect anchors
    m3 = W.html_metadata(F.col("html"))
    r3 = spark.createDataFrame(
        [('<html lang = "en"><head>'
          '<meta name = "description" content = "spaced a<b ok">'
          '<link rel = "canonical" href = "http://c.example/x">'
          "</head>",)], "html string",
    ).select(m3["description"].alias("d"), m3["canonical"].alias("c"),
             m3["lang"].alias("l")).collect()[0]
    assert (r3["d"], r3["c"], r3["l"]) == ("spaced a<b ok",
                                           "http://c.example/x", "en")
    # unquoted attribute values read by every attribute pull
    df_uq = spark.createDataFrame(
        [("https://s.example/p",
          "<a href=https://other.example/x>go</a>"
          "<img src=/pic.png alt=word>"
          "<meta name=description content=short>"
          "<html lang=fr>")],
        "url string, html string")
    assert [(r["dst_host"], r["links"])
            for r in W.outlink_edges(df_uq).collect()] == [
        ("other.example", 1)]
    assert [(r["img_url"], r["alt"]) for r in W.image_refs(df_uq).collect()
            ] == [("https://s.example/pic.png", "word")]
    r4 = df_uq.select(m3["description"].alias("d"),
                      m3["lang"].alias("l")).collect()[0]
    assert (r4["d"], r4["l"]) == ("short", "fr")

    # r15 review find: discriminators are exact-VALUE matches, not
    # prefix matches — rel="canonicalized" / name="descriptions" must
    # NOT satisfy them (html.parser compares attribute values exactly),
    # while unquoted exact values in every position (mid-tag, tag-final,
    # self-closing) must.
    r5 = spark.createDataFrame(
        [('<link rel="canonicalized" href="http://evil.example/x">'
          '<meta name="descriptions" content="not a description">'
          '<meta name=description2 content="nope">',)],
        "html string",
    ).select(m3["canonical"].alias("c"), m3["description"].alias("d")
             ).collect()[0]
    assert (r5["c"], r5["d"]) == ("", "")
    r6 = spark.createDataFrame(
        [('<link rel=canonical href="http://c.example/mid">'
          '<meta content="tag final" name=description>',)],
        "html string",
    ).select(m3["canonical"].alias("c"), m3["description"].alias("d")
             ).collect()[0]
    assert (r6["c"], r6["d"]) == ("http://c.example/mid", "tag final")
    # the mid-tag unquoted disc must not consume '>' and escape the tag
    # into body text ('href=' after the closed link tag is NOT a link)
    r7 = spark.createDataFrame(
        [('<link rel=canonical>no href="http://body.example/t" here',)],
        "html string",
    ).select(m3["canonical"].alias("c")).collect()[0]
    assert r7["c"] == ""


REAL_PAGE_CORPUS = [
    # nested tables with links/images in cells
    ("https://t.example/a/b.html",
     '<html lang="en"><head><title>Tables &amp; more</title>'
     '<meta name="description" content="nested tables"></head><body>'
     '<table class="outer"><tr><td><table><tr>'
     '<td><a href="https://x.example/1">one</a></td>'
     '<td><img src="cell.png" alt="cell image"></td>'
     '</tr></table></td><td>plain text</td></tr></table></body></html>'),
    # inline SVG: nested elements, self-closing shapes, svg-internal <a>
    ("https://t.example/svg.html",
     '<html><head><title>SVG page</title></head><body>'
     '<p>before</p><svg width="100" height="100" viewBox="0 0 100 100">'
     '<circle cx="50" cy="50" r="40" stroke="green"/>'
     '<text x="10" y="20">svg label</text>'
     '<a href="/svglink"><rect width="5" height="5"/></a>'
     '</svg><p>after</p></body></html>'),
    # XHTML CDATA inside script (script is CDATA for every parser)
    ("https://t.example/cdata.html",
     '<html><head><title>CDATA</title>'
     '<script type="text/javascript">//<![CDATA[\nvar a = "<p>no</p>";'
     '\n//]]></script>'
     '</head><body><p>visible words</p></body></html>'),
    # bare CDATA marked section in body (r15 real-page-corpus find:
    # content was kept as text and its markup extracted as LIVE;
    # html.parser consumes the whole marked section — now matched by
    # strip_nontext_blocks)
    ("https://t.example/cdata2.html",
     '<html><body><p>pre</p><![CDATA[ raw <a href="/cd">cdata link</a>'
     ' ]]><p>post</p></body></html>'),
    # forms, definition lists, iframes, noscript, pre/code entities
    ("https://t.example/form.html",
     '<html><head><title>Forms</title></head><body>'
     '<form action="/submit" method="post"><label for=q>Query</label>'
     '<input type="text" name="q" value="seed"><button>Go</button></form>'
     '<dl><dt>Term</dt><dd>Definition with '
     '<a href="https://y.example/d">link</a></dd></dl>'
     '<iframe src="/frame.html"></iframe>'
     '<noscript>enable js <a href="/nojs">fallback</a></noscript>'
     '<pre>code &lt;tag&gt; sample</pre></body></html>'),
    # picture/source, path-relative ../ src, caption/colgroup, nested
    # lists, entity-heavy cells
    ("https://t.example/deep/path/page.html",
     '<html><head><title>Deep &quot;path&quot;</title></head><body>'
     '<picture><source srcset="/big.webp" type="image/webp">'
     '<img src="../up.png" alt="rel up"></picture>'
     '<table><caption>Cap</caption><colgroup><col span="2"></colgroup>'
     '<tr><th>H1</th><th>H2</th></tr>'
     '<tr><td>a&nbsp;b</td><td>c &amp; d</td></tr></table>'
     '<ul><li>one<ol><li>nested <a href="sub.html">sub</a></li></ol>'
     '</li></ul></body></html>'),
]


def test_html_differential_real_page_corpus(spark):
    """Hand-authored real-page shapes OUTSIDE the generator's grammar
    (r14 verdict ask: probe beyond the generator's own conformance
    contract) — nested tables, inline SVG, CDATA in XHTML, forms,
    iframes, noscript, picture/source, nested lists. The bare-CDATA
    page is the r15 find this corpus earned its keep with (phantom
    links from inside a marked section); all pages now agree with the
    html.parser references exactly."""
    pages = [(i, url, html) for i, (url, html) in enumerate(REAL_PAGE_CORPUS)]
    div = _run_differential(spark, pages)
    bad = {k: v[:4] for k, v in div.items() if v}
    assert not bad, f"real-page divergences: {bad}"


def test_img_url_resolution_matrix(spark):
    """RFC 3986 reference-resolution matrix (r15 urljoin cross-check
    probe — the old resolver glued '../'/'./'/'?q'/'#f' onto the page
    DIRECTORY verbatim; browsers and the spec collapse dot segments
    and keep the page PATH for same-document refs): every shape class
    asserted against urljoin + the spec §5.2.4 buffer algorithm."""
    page = "https://h.example/a/b/page.html"
    srcs = ["/abs.png", "rel.png", "../up.png", "../../up2.png",
            "./here.png", "sub/dir.png", "//cdn.example/c.png",
            "https://x.example/z.png", "#frag", "?q=1", "img.png?x=1#f",
            "..", ".", "../", "a/../b.png", "/../weird.png",
            "https://x.example/a/../n.png", "../q.png?d=../e",
            "../../../../deep.png",
            # r16 (ADVICE r15): dot segment terminated by '?'/'#' — the
            # r15 gate regex required '/' or end after the dots, so
            # these skipped the collapse the fold performs correctly
            "..?v=1", ".#f", "c/..#s", "/d/.?q=1", "..#x", ".?only"]
    rows = [(page, f'<img src="{s}" alt="a{i}">') for i, s in enumerate(srcs)]
    df = spark.createDataFrame(rows, "url string, html string")
    got = {r["alt"]: r["img_url"] for r in W.image_refs(df).collect()}
    for i, s in enumerate(srcs):
        assert got.get(f"a{i}") == _ref_resolve(page, s), (s, got.get(f"a{i}"))
    # the higher-order fold handles unbounded nesting exactly (a
    # 60-deep '../' chain over 40 dirs pops to the root and never
    # crosses into the host — the path split runs first)
    deep = "x/" * 40 + "../" * 60 + "end.png"
    r = W.image_refs(spark.createDataFrame(
        [(page, f'<img src="{deep}" alt="deep">')],
        "url string, html string")).collect()[0]["img_url"]
    assert r == _ref_resolve(page, deep)
    assert r == "https://h.example/end.png"


def test_html_known_divergences_pinned(spark):
    """The r14-era pinned metadata divergences are FIXED by the r16
    bundle (`git show c14cfb8:tools/r16_capacity_incidence.py` measured all three pinned
    shapes at nonzero real-crawl-shaped incidence, so the r15 verdict's
    fix-or-accept decision came out FIX):

    1. MULTI-INSTANCE metadata now resolves in DOCUMENT ORDER, first
       instance with a NON-EMPTY value — html.parser/browser semantics
       — via one tag-find scan + short-token value pulls (the old
       two-arrangement whole-page extraction resolved by pattern
       priority, so an attr-reversed first instance lost to a
       canonical second).
    2. og:title's property discriminator now accepts unquoted values
       (property=og:title is legal HTML5), with the exact-value
       terminator contract: '/' stays IN an unquoted value like
       html.parser's [^>\\s]* class, so rel=canonical/> matches
       nothing on either side.
    """
    page = ("<meta content='X first' name='description'>"
            '<meta name="description" content="Y second">')
    m = W.html_metadata(F.col("html"))
    got = spark.createDataFrame([(page,)], "html string").select(
        m["description"].alias("d")).collect()[0]["d"]
    assert got == "X first"  # document order, like a browser/crawler

    got2 = spark.createDataFrame(
        [('<meta property=og:title content="OG unquoted disc">',)],
        "html string").select(m["og_title"].alias("o")).collect()[0]["o"]
    assert got2 == "OG unquoted disc"

    # empty first instance does not shadow a later real one (the
    # html.parser reference's `or ""` + falsy-guard resolution)
    got3 = spark.createDataFrame(
        [('<meta property="og:title" content="">'
          '<meta property="og:title" content="REAL">',)],
        "html string").select(m["og_title"].alias("o")).collect()[0]["o"]
    assert got3 == "REAL"

    # unquoted disc followed by '/' is part of the VALUE (html.parser
    # [^>\s]*): "canonical/" is not "canonical" on either side
    got4 = spark.createDataFrame(
        [('<link rel=canonical/ href="/x">'
          '<link rel=canonical href="/y">',)],
        "html string").select(m["canonical"].alias("c")).collect()[0]["c"]
    assert got4 == "/y"

    # capacity line (bounds.py spirit): only the first EIGHT
    # discriminator tags are probed for a non-empty value
    many = ('<meta property="og:title" content="">' * 8
            + '<meta property="og:title" content="ninth">')
    got5 = spark.createDataFrame([(many,)], "html string").select(
        m["og_title"].alias("o")).collect()[0]["o"]
    assert got5 == ""  # browser: "ninth"; documented slice(8) capacity
