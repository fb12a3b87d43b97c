"""Deterministic synthetic Common-Crawl-style page generator.

Produces rows of the exact `input_hint` shape
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
with HTML built from a seeded template mixing known main-content blocks and
boilerplate (nav/footer/ads/sidebar), so ground truth is known by
construction (FIXTURES.md §1).  Analog of the reference's dataset dirs +
manifest (reference README.md:46-70, lib/dataset.py:44-111).

Fully deterministic: ``random.Random(seed)`` only, absolute timestamps,
no wall clock.  Edge cases emitted on a fixed schedule: empty body, giant
page (skew / max_width analog, reference lib/dataset.py:139-143), nested
boilerplate inside content, duplicated blocks (dedup tests), non-ASCII
text (byte-identity stress), zero-main-content documents.
"""

from __future__ import annotations

import datetime as dt
import random
from operator import itemgetter
from typing import Dict, Iterator, List, Optional, Tuple

_WORDS_EN = (
    "the quick brown fox jumps over a lazy dog while ancient scribes "
    "recorded the history of distributed systems and the art of careful "
    "measurement in long winding sentences about data pipelines engines "
    "documents pages content extraction quality tokens models scale"
).split()
_WORDS_DE = (
    "der schnelle braune fuchs springt über den faulen hund während alte "
    "schreiber die geschichte der verteilten systeme mit großer sorgfalt "
    "in langen sätzen über daten und maschinen festhielten"
).split()
_WORDS_NONASCII = "журнал データ 文档 ação naïve café über señor œuvre".split()

_NAV_ITEMS = ["Home", "About", "Products", "Blog", "Contact", "Login", "Sign up"]
_AD_TEXTS = [
    "Buy now! Limited offer!!!",
    "Click here to win $$$ 1000000",
    "SUBSCRIBE to our newsletter",
    "Download our FREE app today",
]


def _sentence(rng: random.Random, words: List[str], n: int) -> str:
    toks = [rng.choice(words) for _ in range(n)]
    toks[0] = toks[0].capitalize()
    return " ".join(toks) + rng.choice([".", ".", ".", "!", "?"])


def _paragraph(rng: random.Random, words: List[str], n_sent: int) -> str:
    return " ".join(
        _sentence(rng, words, rng.randint(8, 22)) for _ in range(n_sent)
    )


def _nav(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/{x.lower()}">{x}</a></li>'
        for x in rng.sample(_NAV_ITEMS, rng.randint(4, 7))
    )
    return f"<nav><ul>{items}</ul></nav>"


def _sidebar(rng: random.Random, words: List[str]) -> str:
    links = "".join(
        f'<li><a href="/p/{i}">{_sentence(rng, words, rng.randint(3, 6))}</a></li>'
        for i in range(rng.randint(3, 8))
    )
    ad = rng.choice(_AD_TEXTS)
    return f'<aside><h3>Related</h3><ul>{links}</ul><div class="ad">{ad}</div></aside>'


def _footer(rng: random.Random) -> str:
    links = " ".join(
        f'<a href="/{x}">{x}</a>' for x in ["terms", "privacy", "imprint", "jobs"]
    )
    return f"<footer><p>© 2024 Example Corp. {links}</p></footer>"


def make_page(doc_id: int, seed: int = 42) -> Dict[str, object]:
    """Build one deterministic page row keyed only by (doc_id, seed)."""
    rng = random.Random((seed << 32) ^ doc_id)
    kind = doc_id % 17  # fixed edge-case schedule
    lang = "de" if doc_id % 5 == 3 else "en"
    words = _WORDS_DE if lang == "de" else _WORDS_EN

    body: List[str] = ["<header>", _nav(rng), "</header>"]
    main_parts: List[str] = []

    if kind == 0:  # empty body
        body = []
    elif kind == 1:  # zero main content: boilerplate only
        body += [_sidebar(rng, words), _footer(rng)]
    else:
        n_paras = 30 if kind == 2 else rng.randint(3, 10)  # kind 2: giant page
        if kind == 2:
            n_paras = 400  # skew document
        title = _sentence(rng, words, rng.randint(4, 8))
        main_parts.append(f"<h1>{title}</h1>")
        dup_para = None
        for p in range(n_paras):
            w = words
            if kind == 4 and p % 3 == 1:
                w = words + _WORDS_NONASCII  # non-ASCII stress
            para = _paragraph(rng, w, rng.randint(2, 5))
            if kind == 5 and p == 1:
                dup_para = para
            if kind == 5 and p == 3 and dup_para:
                para = dup_para  # duplicated block
            main_parts.append(f"<p>{para}</p>")
            if kind == 6 and p == 2:
                # nested boilerplate inside content
                main_parts.append(
                    f'<div class="inline-ad"><a href="/ad">{rng.choice(_AD_TEXTS)}</a></div>'
                )
            if kind == 7 and p == 1:
                main_parts.append('<figure><img src="/i.png"/>'
                                  f"<figcaption>{_sentence(rng, words, 5)}</figcaption></figure>")
        body.append("<article>" + "".join(main_parts) + "</article>")
        body.append(_sidebar(rng, words))
        body.append(_footer(rng))

    html = (
        "<!DOCTYPE html><html><head><title>Doc %d</title>"
        "<script>var x=1;</script><style>.x{}</style></head><body>%s</body></html>"
        % (doc_id, "".join(body))
    )
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=doc_id % 31_536_000)
    rough_text = " ".join(main_parts)  # noisy pre-extracted text analog
    return {
        "url": f"https://example-{doc_id % 1000}.test/page/{doc_id}",
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": rough_text,
        "lang": lang,
    }


def gen_pages(n: int, seed: int = 42, start: int = 0) -> Iterator[Dict[str, object]]:
    for i in range(start, start + n):
        yield make_page(i, seed)


# ----------------------------------------------------- adversarial fixtures
#
# Hostile real-corpus shapes that the kind-schedule corpus above does not
# cover, for tools/quality_eval.py's per-shape recall/leakage report and
# the pinned regression test (tests/test_quality_shapes.py).  Kept OUT of
# make_page so frozen goldens and the flagship oracle fixture stay stable.

HOSTILE_SHAPES = (
    "comments", "template", "split_article", "link_dense",
    "cookie_banner", "pagination", "span_soup", "table_layout",
    "feed_teasers", "paywall_gate",
)


def hostile_page(shape: str, doc_id: int, seed: int = 42) -> Dict[str, object]:
    """One adversarial page; returns the make_page row shape plus
    ``gt_main`` (normalized GT paragraph texts that MUST be extracted) and
    ``boiler_probe`` (marker strings that must NOT leak into extractions).

    Shapes:
      * comments      — article followed by a long comment thread in a
                        plain <section> (no boiler container tag, text-
                        heavy, low link density): the classic leakage trap
      * template      — the same promo paragraph repeated in bare <div>s
                        before/inside/after the article (template
                        boilerplate carries no tag/container signal)
      * split_article — one piece split across TWO <article> elements
                        with an ad block between them: recall must span
                        the gap
      * link_dense    — legitimate prose where every paragraph carries
                        several inline citation links: high link density
                        on REAL content (recall stress)
      * cookie_banner — a consent overlay with substantial legalese at
                        the top of the page (class-hinted wrapper)
      * pagination    — article followed by a "Previous 1 2 ... Next"
                        page-link block in bare divs
      * span_soup     — article body built from inline <span>s inside
                        one <div> (no <p> block structure at all):
                        recall must survive missing block tags
      * table_layout  — 1990s table-based layout: prose lives in one
                        <td>, nav links in sibling <td>s, no semantic
                        containers anywhere
      * feed_teasers  — a recirculation feed after the article: teaser
                        cards (headline link + one-sentence snippet,
                        prose-like!) in a class="recirc" block — the
                        infinite-scroll "More stories" trap; caught by
                        the real-world recirc/teaser class hints
      * paywall_gate  — a subscription gate INSIDE the article element
                        (class="paywall" prose + button) truncating the
                        piece; visible paragraphs must extract, the
                        gate prose must not leak
    """
    if shape not in HOSTILE_SHAPES:
        raise ValueError(f"shape must be one of {HOSTILE_SHAPES}")
    rng = random.Random((seed << 32) ^ doc_id ^ 0xAD7E)
    words = _WORDS_EN
    title = _sentence(rng, words, rng.randint(4, 8))
    paras = [_paragraph(rng, words, rng.randint(3, 6)) for _ in range(6)]
    gt_main = [" ".join(title.split())]
    boiler_probe: List[str] = []
    body: List[str] = ["<header>", _nav(rng), "</header>"]

    if shape == "comments":
        art = [f"<h1>{title}</h1>"] + [f"<p>{p}</p>" for p in paras]
        gt_main += [" ".join(p.split()) for p in paras]
        comments = []
        for ci in range(10):
            handle = f"user{1000 + ci * 7} says:"
            c = _paragraph(rng, words, rng.randint(2, 5))
            comments.append(f"<div><p>{handle}</p><p>{c}</p></div>")
            boiler_probe.append(handle)
        body.append("<article>" + "".join(art) + "</article>")
        body.append(
            '<section class="comments"><h3>142 Comments</h3>'
            + "".join(comments)
            + "</section>"
        )
        boiler_probe.append("142 Comments")
    elif shape == "template":
        promo = (
            "Try PremiumPlan free for 30 days and unlock exclusive "
            "member benefits today"
        )
        boiler_probe.append(promo)
        art = [f"<h1>{title}</h1>"]
        for i, p in enumerate(paras):
            art.append(f"<p>{p}</p>")
            if i % 2 == 1:
                art.append(f'<div class="promo">{promo}</div>')
        gt_main += [" ".join(p.split()) for p in paras]
        body.append(f'<div class="promo">{promo}</div>')
        body.append("<article>" + "".join(art) + "</article>")
        body.append(f'<div class="promo">{promo}</div>')
    elif shape == "split_article":
        half = len(paras) // 2
        gt_main += [" ".join(p.split()) for p in paras]
        ad = rng.choice(_AD_TEXTS)
        boiler_probe.append(ad)
        body.append(
            "<article>"
            + f"<h1>{title}</h1>"
            + "".join(f"<p>{p}</p>" for p in paras[:half])
            + "</article>"
        )
        body.append(f'<div class="ad"><a href="/ad">{ad}</a></div>')
        body.append(
            "<article>"
            + "".join(f"<p>{p}</p>" for p in paras[half:])
            + "</article>"
        )
    elif shape == "link_dense":
        art = [f"<h1>{title}</h1>"]
        for p in paras:
            toks = p.split()
            # turn ~1/3 of the words into inline citation links
            for i in range(2, len(toks), 3):
                toks[i] = f'<a href="/ref/{i}">{toks[i]}</a>'
            art.append(f"<p>{' '.join(toks)}</p>")
            gt_main.append(" ".join(p.split()))
        body.append("<article>" + "".join(art) + "</article>")
        # the trap is link-dense MAIN prose next to genuinely link-dense
        # furniture — probe the furniture so the leakage check can fail
        ad = rng.choice(_AD_TEXTS)
        boiler_probe += [ad, "© 2024 Example Corp."]
        body.append(f'<div class="ad"><a href="/ad">{ad}</a></div>')
    elif shape == "cookie_banner":
        legalese = (
            "We and our 842 partners use cookies and similar technologies "
            "to store and access information on your device, process "
            "personal data and measure advertising performance. You can "
            "accept all or manage your preferences at any time from the "
            "privacy dashboard."
        )
        boiler_probe.append("842 partners")
        body.insert(0, f'<div class="cookie-consent"><p>{legalese}</p>'
                       '<button>Accept all</button></div>')
        art = [f"<h1>{title}</h1>"] + [f"<p>{p}</p>" for p in paras]
        gt_main += [" ".join(p.split()) for p in paras]
        body.append("<article>" + "".join(art) + "</article>")
    elif shape == "pagination":
        art = [f"<h1>{title}</h1>"] + [f"<p>{p}</p>" for p in paras]
        gt_main += [" ".join(p.split()) for p in paras]
        body.append("<article>" + "".join(art) + "</article>")
        pages_links = " ".join(
            f'<a href="/page/{k}">{k}</a>' for k in range(1, 9)
        )
        boiler_probe.append("Previous")
        boiler_probe.append("Next page")
        body.append(
            f'<div class="pagination"><a href="/p">Previous</a> '
            f'{pages_links} <a href="/n">Next page</a></div>'
        )
    elif shape == "feed_teasers":
        art = [f"<h1>{title}</h1>"] + [f"<p>{p}</p>" for p in paras]
        gt_main += [" ".join(p.split()) for p in paras]
        body.append("<article>" + "".join(art) + "</article>")
        cards = []
        for k in range(8):
            head = _sentence(rng, words, rng.randint(4, 6))
            teaser = _sentence(rng, words, rng.randint(8, 12))
            boiler_probe.append(" ".join(teaser.split()))
            cards.append(
                f'<div class="card"><a href="/story/{k}">{head}</a>'
                f"<p>{teaser}</p></div>"
            )
        boiler_probe.append("More stories")
        body.append(
            '<div class="recirc"><h3>More stories</h3>'
            + "".join(cards) + "</div>"
        )
    elif shape == "paywall_gate":
        half = max(2, len(paras) // 2)
        gt_main += [" ".join(p.split()) for p in paras[:half]]
        gate = (
            "You have reached your monthly article limit. Sign in or "
            "purchase a day pass to continue reading this story."
        )
        boiler_probe.append("monthly article limit")
        body.append(
            "<article>"
            + f"<h1>{title}</h1>"
            + "".join(f"<p>{p}</p>" for p in paras[:half])
            + f'<div class="paywall"><p>{gate}</p>'
            + "<button>Sign in</button></div>"
            + "</article>"
        )
    elif shape == "span_soup":
        # no <p> at all: sentences in inline <span>s inside one <div>
        spans_html = "".join(f"<span>{p} </span>" for p in paras)
        gt = " ".join(" ".join(p.split()) for p in paras)
        gt_main += [gt]
        body.append(
            "<article>"
            + f"<h1>{title}</h1><div>{spans_html}</div>"
            + "</article>"
        )
        # span-soup furniture: a span-built promo block outside the
        # article, same markup style as the main body (plus the footer
        # signature) — probes so the leakage check is non-vacuous
        ad = rng.choice(_AD_TEXTS)
        boiler_probe += [ad, "© 2024 Example Corp."]
        body.append(
            f'<div class="promo"><span>{ad} </span>'
            f'<span>Limited time offer </span></div>'
        )
    else:  # table_layout
        nav_cell = "".join(
            f'<a href="/{x.lower()}">{x}</a> ' for x in _NAV_ITEMS[:5]
        )
        prose = "".join(f"<p>{p}</p>" for p in paras)
        gt_main += [" ".join(p.split()) for p in paras]
        ad = rng.choice(_AD_TEXTS)
        boiler_probe.append(ad)
        body = [  # replace the default header entirely: no semantics
            "<table><tr>",
            f"<td>{nav_cell}</td>",
            f"<td><h1>{title}</h1>{prose}</td>",
            f"<td>{ad}</td>",
            "</tr></table>",
        ]
        html = (
            "<!DOCTYPE html><html><head><title>Hostile %s %d</title>"
            "</head><body>%s</body></html>"
            % (shape, doc_id, "".join(body))
        )
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=doc_id % 31_536_000)
        return {
            "url": f"https://hostile.test/{shape}/{doc_id}",
            "warc_ts": ts,
            "html": html.encode("utf-8"),
            "text": " ".join(gt_main),
            "lang": "en",
            "gt_main": gt_main,
            "boiler_probe": boiler_probe,
        }
    body.append(_sidebar(rng, words))
    body.append(_footer(rng))

    html = (
        "<!DOCTYPE html><html><head><title>Hostile %s %d</title>"
        "<script>var x=1;</script></head><body>%s</body></html>"
        % (shape, doc_id, "".join(body))
    )
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=doc_id % 31_536_000)
    return {
        "url": f"https://hostile.test/{shape}/{doc_id}",
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": " ".join(gt_main),
        "lang": "en",
        "gt_main": gt_main,
        "boiler_probe": boiler_probe,
    }


#: charset fixtures: (codec label to declare, text with chars OUTSIDE
#: ASCII that round-trip in that codec).  A hard UTF-8 decode mangles
#: every one of these into replacement chars.
CHARSET_CASES = {
    "windows-1252": "Smart “quotes” and a café — naïve résumé",
    "iso-8859-1": "Bücher über Straße und Größe",  # WHATWG: cp1252 superset
    "shift_jis": "日本語のテキストです",
    "gb2312": "这是中文网页内容",
    "utf-8": "Mixed ünïcödé content — 中文 and русский",
}


def make_charset_page(codec: str, doc_id: int = 0) -> Dict[str, object]:
    """One page whose bytes are encoded in ``codec`` with a matching
    <meta charset> declaration; ``gt_main`` is the correctly-decoded
    article text the extractor must reproduce."""
    text = CHARSET_CASES[codec]
    para = f"Article body paragraph number {doc_id} follows. {text}"
    html = (
        f'<!DOCTYPE html><html><head><meta charset="{codec}">'
        f"<title>c</title></head><body><header><nav><ul>"
        f'<li><a href="/">Home</a></li><li><a href="/a">About</a></li>'
        f"</ul></nav></header><article><h1>Heading {doc_id}</h1>"
        f"<p>{para}</p><p>{para}</p></article>"
        f'<footer><p>(c) 2024 <a href="/t">terms</a></p></footer>'
        f"</body></html>"
    )
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=doc_id)
    return {
        "url": f"https://charset.test/{codec}/{doc_id}",
        "warc_ts": ts,
        "html": html.encode(codec),
        "text": para,
        "lang": "en",
        "gt_main": [para],
    }


# ------------------------------------------------------------ PDF fixtures

def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def build_pdf(blocks: List[tuple], compress: bool = False) -> bytes:
    """Minimal valid single-page PDF from (font_size, text) blocks — one
    BT..ET text object per block, optional FlateDecode content stream,
    correct xref offsets.  Deterministic; stdlib-only."""
    import zlib

    ops, y = [], 760
    for size, text in blocks:
        ops.append(
            f"BT /F1 {size:g} Tf 72 {y} Td ({_pdf_escape(text)}) Tj ET"
        )
        y -= 20
    content = "\n".join(ops).encode("latin-1", errors="replace")
    filt = ""
    if compress:
        content = zlib.compress(content, 6)
        filt = " /Filter /FlateDecode"

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        f"<< /Length {len(content)}{filt} >>\nstream\n".encode("ascii")
        + content
        + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode("ascii") + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode("ascii")
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode("ascii")
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode("ascii")
    return bytes(out)


#: ToUnicode CMap used by build_cid_pdf: ASCII 0x20-0x7E lives at CID
#: 0x120-0x17E (ONE incrementing bfrange), em-dash at CID 1 (bfchar),
#: e-acute / u-umlaut at CIDs 2-3 (explicit-array bfrange) — exercising
#: all three CMap entry shapes the parser supports.
CID_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
1 begincodespacerange
<0000> <ffff>
endcodespacerange
1 beginbfchar
<0001> <2014>
endbfchar
2 beginbfrange
<0120> <017e> <0020>
<0002> <0003> [<00e9> <00fc>]
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""


def _cid_hex(text: str) -> str:
    out = []
    for ch in text:
        o = ord(ch)
        if 0x20 <= o <= 0x7E:
            out.append("%04x" % (0x100 + o))
        elif ch == "—":
            out.append("0001")
        elif ch == "é":
            out.append("0002")
        elif ch == "ü":
            out.append("0003")
    return "".join(out)


def build_cid_pdf(
    blocks: List[tuple], objstm: bool = False, indirect_length: bool = False
) -> bytes:
    """Single-page PDF with a Type0 CID font: show ops are hex strings of
    2-byte CIDs decoded through a Flate-compressed /ToUnicode CMap — the
    common real-crawl PDF shape.  ``objstm`` packs the page + font
    dictionaries into a compressed /ObjStm; ``indirect_length`` declares
    the content stream's /Length as an indirect reference."""
    import zlib

    ops, y = [], 760
    for size, text in blocks:
        ops.append(f"BT /F1 {size:g} Tf 72 {y} Td <{_cid_hex(text)}> Tj ET")
        y -= 20
    content = "\n".join(ops).encode("ascii")
    cmap_z = zlib.compress(CID_CMAP, 6)
    objs: Dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-CID "
           b"/ToUnicode 6 0 R >>",
        6: f"<< /Length {len(cmap_z)} /Filter /FlateDecode >>\nstream\n".encode("ascii")
           + cmap_z + b"\nendstream",
    }
    if indirect_length:
        objs[4] = b"<< /Length 7 0 R >>\nstream\n" + content + b"\nendstream"
        objs[7] = str(len(content)).encode("ascii")
    else:
        objs[4] = (
            f"<< /Length {len(content)} >>\nstream\n".encode("ascii")
            + content + b"\nendstream"
        )
    if objstm:
        packed = [(3, objs.pop(3)), (5, objs.pop(5))]
        serial = b""
        header_parts = []
        for num, body in packed:
            header_parts.append(f"{num} {len(serial)}")
            serial += body + b"\n"
        head = (" ".join(header_parts) + "\n").encode("ascii")
        payload = zlib.compress(head + serial, 6)
        objs[8] = (
            f"<< /Type /ObjStm /N {len(packed)} /First {len(head)} "
            f"/Length {len(payload)} /Filter /FlateDecode >>\nstream\n"
            .encode("ascii") + payload + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.5\n")
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode("ascii") + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


#: glyph assignment used by build_ttf_pdf's embedded font: ASCII
#: 0x20-0x7E at gids 1-95 (one format-4 delta segment), é/ü/em-dash at
#: gids 96-98 (single-code segments) — same repertoire as CID_CMAP so
#: fixtures are interchangeable across the two CID shapes.
_TTF_EXTRA = {0xE9: 96, 0xFC: 97, 0x2014: 98}


def _ttf_gid(ch: str) -> int:
    o = ord(ch)
    if 0x20 <= o <= 0x7E:
        return o - 0x1F
    return _TTF_EXTRA.get(o, 0)


def build_ttf_cmap_font() -> bytes:
    """Minimal TrueType font: table directory + a single ``cmap`` table
    with one (3,1) format-4 subtable covering the fixture repertoire.
    Only what pdf_parse.parse_ttf_cmap consumes — checksums are not
    validated by any conforming cmap reader path we exercise."""
    segs = [
        (0x20, 0x7E, (1 - 0x20) & 0xFFFF, 0),
        (0xE9, 0xE9, (96 - 0xE9) & 0xFFFF, 0),
        (0xFC, 0xFC, (97 - 0xFC) & 0xFFFF, 0),
        (0x2014, 0x2014, (98 - 0x2014) & 0xFFFF, 0),
        (0xFFFF, 0xFFFF, 1, 0),  # mandatory terminator
    ]
    n = len(segs)
    seg_x2 = 2 * n
    sub_len = 14 + 4 * seg_x2 + 2
    fmt4 = (
        (4).to_bytes(2, "big") + sub_len.to_bytes(2, "big")
        + (0).to_bytes(2, "big")                      # language
        + seg_x2.to_bytes(2, "big")
        + (2 * 4).to_bytes(2, "big")                  # searchRange (unused)
        + (2).to_bytes(2, "big") + (0).to_bytes(2, "big")
        + b"".join(e.to_bytes(2, "big") for _, e, _, _ in segs)
        + (0).to_bytes(2, "big")                      # reservedPad
        + b"".join(s.to_bytes(2, "big") for s, _, _, _ in segs)
        + b"".join(d.to_bytes(2, "big") for _, _, d, _ in segs)
        + b"".join(r.to_bytes(2, "big") for _, _, _, r in segs)
    )
    cmap = (
        (0).to_bytes(2, "big") + (1).to_bytes(2, "big")   # version, 1 table
        + (3).to_bytes(2, "big") + (1).to_bytes(2, "big") # (3,1) windows BMP
        + (12).to_bytes(4, "big")                          # subtable offset
        + fmt4
    )
    # sfnt header: version 1.0, numTables 1, then the directory record
    header = (
        b"\x00\x01\x00\x00" + (1).to_bytes(2, "big")
        + (16).to_bytes(2, "big") + (0).to_bytes(2, "big")
        + (0).to_bytes(2, "big")
        + b"cmap" + (0).to_bytes(4, "big")
        + (28).to_bytes(4, "big") + len(cmap).to_bytes(4, "big")
    )
    return header + cmap


def build_ttf_pdf(
    blocks: List[tuple], cid_to_gid_stream: bool = False
) -> bytes:
    """Single-page PDF with a Type0 CID font that has NO /ToUnicode —
    the CIDToGIDMap-only real-crawl shape: /Identity-H encoding, CIDs in
    show strings, text recoverable ONLY by reversing the embedded
    FontFile2's cmap table.  ``cid_to_gid_stream`` adds a /CIDToGIDMap
    stream (cid -> gid+0 identity laid out explicitly) instead of
    /Identity, exercising the stream branch."""
    import zlib

    ops, y = [], 760
    for size, text in blocks:
        hexs = "".join("%04x" % _ttf_gid(ch) for ch in text if _ttf_gid(ch))
        ops.append(f"BT /F1 {size:g} Tf 72 {y} Td <{hexs}> Tj ET")
        y -= 20
    content = "\n".join(ops).encode("ascii")
    ttf = build_ttf_cmap_font()
    ttf_z = zlib.compress(ttf, 6)
    objs: Dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        4: f"<< /Length {len(content)} >>\nstream\n".encode("ascii")
           + content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-TTF "
           b"/Encoding /Identity-H /DescendantFonts [7 0 R] >>",
        8: b"<< /Type /FontDescriptor /FontName /Synth-TTF "
           b"/FontFile2 9 0 R >>",
        9: f"<< /Length {len(ttf_z)} /Filter /FlateDecode >>\nstream\n"
           .encode("ascii") + ttf_z + b"\nendstream",
    }
    if cid_to_gid_stream:
        cg = b"".join(g.to_bytes(2, "big") for g in range(99))
        objs[7] = (
            b"<< /Subtype /CIDFontType2 /BaseFont /Synth-TTF "
            b"/FontDescriptor 8 0 R /CIDToGIDMap 10 0 R >>"
        )
        objs[10] = (
            f"<< /Length {len(cg)} >>\nstream\n".encode("ascii")
            + cg + b"\nendstream"
        )
    else:
        objs[7] = (
            b"<< /Subtype /CIDFontType2 /BaseFont /Synth-TTF "
            b"/FontDescriptor 8 0 R /CIDToGIDMap /Identity >>"
        )
    out = bytearray(b"%PDF-1.5\n")
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode("ascii") + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def _cff_index(items: List[bytes]) -> bytes:
    """One CFF INDEX (count u16, offSize, 1-based offsets, data)."""
    if not items:
        return (0).to_bytes(2, "big")
    data = b"".join(items)
    off_size = 1 if len(data) + 1 < 256 else 2
    out = len(items).to_bytes(2, "big") + bytes([off_size])
    o = 1
    for it in items:
        out += o.to_bytes(off_size, "big")
        o += len(it)
    out += o.to_bytes(off_size, "big")
    return out + data


def build_cff_font(chars: str) -> Tuple[bytes, Dict[str, int]]:
    """Minimal CFF (Type1C) font program -> (bytes, char -> byte code).

    Glyphs are the unique chars of ``chars`` at GIDs 1..n; charset
    format 0 assigns each its standard SID (ASCII) or a custom
    ``uniXXXX`` String-INDEX name (non-ASCII); Encoding is a CUSTOM
    format-0 table assigning code 0x80+i — deliberately NOT ASCII, so
    text is recoverable ONLY by walking the CFF naming tables
    (pdf_parse.parse_cff_charmap), never by latin-1 luck.  CharStrings
    are 1-byte endchar stubs (outlines are irrelevant to text
    recovery).  Like the crypt twins (CLAUDE.md invariant 7), this is
    an INDEPENDENT implementation of the public CFF spec."""
    glyphs: List[str] = []
    for ch in chars:
        if ch not in glyphs:
            glyphs.append(ch)
    if len(glyphs) > 96:
        raise ValueError("repertoire exceeds the custom code range")
    strings: List[bytes] = []
    sids: List[int] = []
    for ch in glyphs:
        o = ord(ch)
        if 32 <= o <= 126:
            sids.append(o - 31)  # standard strings 1..95 = ASCII order
        else:
            sids.append(391 + len(strings))
            strings.append(b"uni%04X" % o)
    name_idx = _cff_index([b"SynthCFF"])
    string_idx = _cff_index(strings)
    gsubr_idx = _cff_index([])
    encoding = bytes([0, len(glyphs)]) + bytes(
        0x80 + i for i in range(len(glyphs))
    )
    charset = b"\x00" + b"".join(s.to_bytes(2, "big") for s in sids)
    charstrings = _cff_index([b"\x0e"] * (len(glyphs) + 1))
    # TopDICT uses fixed-width int32 operands so offsets are computable
    # before the dict is serialized: 3 entries of (1d + 4 bytes + op).
    topdict_len = 3 * 6
    topdict_idx_len = 2 + 1 + 2 * 1 + topdict_len
    base = (
        4 + len(name_idx) + topdict_idx_len
        + len(string_idx) + len(gsubr_idx)
    )
    enc_off = base
    charset_off = enc_off + len(encoding)
    cs_off = charset_off + len(charset)

    def op32(v: int, op: int) -> bytes:
        return b"\x1d" + v.to_bytes(4, "big") + bytes([op])

    topdict = op32(charset_off, 15) + op32(enc_off, 16) + op32(cs_off, 17)
    topdict_idx = _cff_index([topdict])
    assert len(topdict_idx) == topdict_idx_len
    cff = (
        b"\x01\x00\x04\x01" + name_idx + topdict_idx + string_idx
        + gsubr_idx + encoding + charset + charstrings
    )
    return cff, {ch: 0x80 + i for i, ch in enumerate(glyphs)}


def build_cff_pdf(
    blocks: List[tuple], differences: Optional[List[object]] = None
) -> bytes:
    """Single-page PDF whose text uses a SIMPLE font with a /FontFile3
    CFF program and a custom byte encoding: show strings carry the CFF
    codes (0x80+), so extraction must decode through the CFF charset +
    Encoding tables (latin-1 fallback would emit high-byte garbage).
    ``differences`` optionally adds an /Encoding << /Differences [...]
    >> overlay to the font dict (ints + glyph-name strings)."""
    import zlib

    chars = "".join(text for _size, text in blocks)
    cff, char2code = build_cff_font(chars)
    ops, y = [], 760
    for size, text in blocks:
        hexs = "".join("%02x" % char2code[ch] for ch in text)
        ops.append(f"BT /F1 {size:g} Tf 72 {y} Td <{hexs}> Tj ET")
        y -= 20
    content = "\n".join(ops).encode("ascii")
    cff_z = zlib.compress(cff, 6)
    enc = b""
    if differences is not None:
        toks = " ".join(
            str(t) if isinstance(t, int) else f"/{t}" for t in differences
        )
        enc = f" /Encoding << /Differences [ {toks} ] >>".encode("ascii")
    objs: Dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        4: f"<< /Length {len(content)} >>\nstream\n".encode("ascii")
           + content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /SynthCFF "
           b"/FontDescriptor 8 0 R" + enc + b" >>",
        8: b"<< /Type /FontDescriptor /FontName /SynthCFF "
           b"/FontFile3 9 0 R >>",
        9: f"<< /Subtype /Type1C /Length {len(cff_z)} /Filter "
           f"/FlateDecode >>\nstream\n".encode("ascii")
           + cff_z + b"\nendstream",
    }
    out = bytearray(b"%PDF-1.5\n")
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode("ascii") + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


#: embedded (non-Identity) CMap used by build_cidcmap_pdf: 2-byte codes
#: at 0xE000+GID map to CID=GID via ONE cidrange, except GID 1 (space),
#: which rides a cidchar entry — both entry shapes exercised.
CID_ENC_CMAP = b"""%!PS-Adobe-3.0 Resource-CMap
/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Synth-E000 def
/CMapType 1 def
1 begincodespacerange
<0000> <ffff>
endcodespacerange
1 begincidchar
<e001> 1
endcidchar
1 begincidrange
<e002> <e0ff> 2
endcidrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""


def build_cidcmap_pdf(blocks: List[tuple]) -> bytes:
    """Single-page PDF with a Type0 CID font whose /Encoding is an
    EMBEDDED CMap stream (NOT /Identity-H) and NO /ToUnicode: show
    strings carry 2-byte codes at 0xE000+GID, the CMap maps them to
    CIDs, /CIDToGIDMap /Identity maps CIDs to GIDs, and the FontFile2
    TrueType cmap reversal recovers unicode — the full non-Identity
    chain."""
    import zlib

    ops, y = [], 760
    for size, text in blocks:
        hexs = "".join(
            "%04x" % (0xE000 + _ttf_gid(ch))
            for ch in text if _ttf_gid(ch)
        )
        ops.append(f"BT /F1 {size:g} Tf 72 {y} Td <{hexs}> Tj ET")
        y -= 20
    content = "\n".join(ops).encode("ascii")
    ttf = build_ttf_cmap_font()
    ttf_z = zlib.compress(ttf, 6)
    cmap_z = zlib.compress(CID_ENC_CMAP, 6)
    objs: Dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        4: f"<< /Length {len(content)} >>\nstream\n".encode("ascii")
           + content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-TTF "
           b"/Encoding 11 0 R /DescendantFonts [7 0 R] >>",
        7: b"<< /Subtype /CIDFontType2 /BaseFont /Synth-TTF "
           b"/FontDescriptor 8 0 R /CIDToGIDMap /Identity >>",
        8: b"<< /Type /FontDescriptor /FontName /Synth-TTF "
           b"/FontFile2 9 0 R >>",
        9: f"<< /Length {len(ttf_z)} /Filter /FlateDecode >>\nstream\n"
           .encode("ascii") + ttf_z + b"\nendstream",
        11: f"<< /Type /CMap /CMapName /Synth-E000 /Length {len(cmap_z)} "
            f"/Filter /FlateDecode >>\nstream\n".encode("ascii")
            + cmap_z + b"\nendstream",
    }
    out = bytearray(b"%PDF-1.5\n")
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode("ascii") + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def build_xref_pdf(
    blocks: List[tuple],
    xref_stream: bool = False,
    predictor: bool = False,
    form_xobject: bool = False,
    endobj_trap: bool = False,
) -> bytes:
    """Single-page PDF exercising the xref-driven resolution paths:

      * ``xref_stream``  — cross-reference as a /Type /XRef stream
        (W [1 4 2], FlateDecode), optionally with the PNG Up predictor
        (``predictor``, /Predictor 12) — the PDF 1.5+ shape;
      * ``form_xobject`` — all body blocks after the first live in a
        /Subtype /Form XObject invoked via ``/Fm1 Do`` mid-content;
      * ``endobj_trap``  — a binary /Image XObject whose payload embeds
        ``endobj`` and a FAKE ``5 0 obj`` header that poisons the regex
        object scan (the font object); only xref resolution survives.

    Text content and order are identical to :func:`build_pdf` for the
    same blocks, so extraction must be byte-identical across container
    formats (pinned by tests)."""
    import zlib as _zlib

    ops, y = [], 760
    for size, text in blocks:
        ops.append(
            f"BT /F1 {size:g} Tf 72 {y} Td ({_pdf_escape(text)}) Tj ET"
        )
        y -= 20
    if form_xobject and len(ops) > 1:
        head_ops, form_ops = ops[:1], ops[1:]
        form_body = "\n".join(form_ops).encode("latin-1", errors="replace")
        content = ("\n".join(head_ops) + "\n/Fm1 Do\n").encode(
            "latin-1", errors="replace"
        )
    else:
        form_body = None
        content = "\n".join(ops).encode("latin-1", errors="replace")

    res = b"/Resources << /Font << /F1 5 0 R >>"
    if form_body is not None:
        res += b" /XObject << /Fm1 6 0 R >>"
    res += b" >>"
    objs: Dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R " + res + b" >>",
        4: f"<< /Length {len(content)} >>\nstream\n".encode("ascii")
           + content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    if form_body is not None:
        objs[6] = (
            f"<< /Type /XObject /Subtype /Form /Length {len(form_body)} "
            f">>\nstream\n".encode("ascii") + form_body + b"\nendstream"
        )
    if endobj_trap:
        # fake headers for the font (5) and form (6) objects: the regex
        # scan's later-match-wins dict maps them to the poisoned bodies,
        # so regex-only resolution loses the Form XObject (its Do site
        # silently skips); the xref overlay restores the real bodies
        trap = (
            b"\x00\x01BINARY\nendobj\n5 0 obj\n<< /Poisoned >>\nendobj\n"
            b"6 0 obj\n<< /Poisoned >>\nendobj\n\x02\x03MORE"
        )
        objs[7] = (
            f"<< /Type /XObject /Subtype /Image /Length {len(trap)} "
            f">>\nstream\n".encode("ascii") + trap + b"\nendstream"
        )

    out = bytearray(b"%PDF-1.5\n")
    offsets: Dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode("ascii") + objs[num] + b"\nendobj\n"

    max_obj = max(objs)
    if not xref_stream:
        xref_at = len(out)
        out += f"xref\n0 {max_obj + 1}\n0000000000 65535 f \n".encode("ascii")
        for num in range(1, max_obj + 1):
            off = offsets.get(num, 0)
            kind = "n" if num in offsets else "f"
            gen = "00000" if num in offsets else "65535"
            out += f"{off:010d} {gen} {kind} \n".encode("ascii")
        out += (
            f"trailer\n<< /Size {max_obj + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n"
        ).encode("ascii")
        return bytes(out)

    # xref STREAM: W [1 4 2]; entry rows for objects 0..max_obj+1
    # (the stream object itself is the last entry)
    xref_num = max_obj + 1
    xref_at = len(out)
    rows = []
    rows.append((0, 0, 65535))  # object 0: free
    for num in range(1, max_obj + 1):
        rows.append((1, offsets.get(num, 0), 0))
    rows.append((1, xref_at, 0))  # the xref stream object
    raw = b"".join(
        bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in rows
    )
    parms = b""
    if predictor:
        row_w = 7
        enc = bytearray()
        prev = bytes(row_w)
        for i in range(0, len(raw), row_w):
            row = raw[i: i + row_w]
            enc.append(2)  # PNG Up filter
            enc += bytes((row[j] - prev[j]) & 0xFF for j in range(row_w))
            prev = row
        raw = bytes(enc)
        parms = b" /DecodeParms << /Predictor 12 /Columns 7 >>"
    payload = _zlib.compress(raw, 6)
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} "
        f"/Index [0 {xref_num + 1}] /W [1 4 2] /Root 1 0 R "
        f"/Length {len(payload)} /Filter /FlateDecode".encode("ascii")
        + parms + b" >>\nstream\n" + payload + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_at}\n%%EOF\n".encode("ascii")
    return bytes(out)


# -- standard-security-handler encryption (RC4, /V 1-2, /R 2-3) ---------
#
# INDEPENDENT twin of pdf_parse.build_decryptor: the cipher, the key
# derivation (Algorithm 2 of the public ISO 32000-1 spec), and the
# object/stream walk are all written from scratch here, sharing no code
# with the parser — so an encrypt->parse round trip cross-validates two
# implementations of the published algorithms instead of exercising one
# implementation's self-symmetry.

#: 32-byte padding string from the spec (Table 3.19 / 7.6.3.3) — a fixed
#: public constant, necessarily identical in any implementation.
_ENC_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)


def _enc_rc4(key: bytes, data: bytes) -> bytes:
    """RC4, keystream-first formulation (distinct from the parser's
    in-place XOR loop)."""
    S = bytearray(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) % 256
        S[i], S[j] = S[j], S[i]
    ks = bytearray(len(data))
    i = j = 0
    for n in range(len(data)):
        i = (i + 1) % 256
        j = (j + S[i]) % 256
        S[i], S[j] = S[j], S[i]
        ks[n] = S[(S[i] + S[j]) % 256]
    return bytes(a ^ b for a, b in zip(data, ks))


# -- AES-128 forward cipher (FIPS-197), datagen's own formulation -------
#
# INDEPENDENT of pdf_parse's inverse cipher by construction (CLAUDE.md
# invariant 7): the S-box here comes from a Fermat a^254 square-and-
# multiply inverse + bit-matrix affine (the parser derives its S-box
# from exp/log tables + a rotate-XOR affine), multiplication is a
# table-driven xtime ladder (the parser uses a peasant loop), and the
# schedule works on big-endian ints (the parser on byte strings).  The
# FIPS-197 appendix-C known-answer test in tests/test_pdf_crypt.py
# pins BOTH derivations to the published vector.

_ENC_XTIME = bytes(
    ((x << 1) ^ (0x1B if x & 0x80 else 0)) & 0xFF for x in range(256)
)


def _enc_mul(a: int, b: int) -> int:
    """GF(2^8) product: accumulate xtime^k(a) over the set bits of b."""
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        a = _ENC_XTIME[a]
        b >>= 1
    return p


def _enc_sbox() -> bytes:
    sbox = bytearray(256)
    for a in range(256):
        # inverse = a^254 (Fermat): product of a^(2^k), k = 1..7
        inv, sq = 1, a
        for _ in range(7):
            sq = _enc_mul(sq, sq)
            inv = _enc_mul(inv, sq)
        if a == 0:
            inv = 0
        s = 0
        for i in range(8):  # affine: b_i ^ b_{i+4} ^ b_{i+5} ^ b_{i+6} ^ b_{i+7} ^ c_i
            bit = (
                (inv >> i)
                ^ (inv >> ((i + 4) % 8))
                ^ (inv >> ((i + 5) % 8))
                ^ (inv >> ((i + 6) % 8))
                ^ (inv >> ((i + 7) % 8))
                ^ (0x63 >> i)
            ) & 1
            s |= bit << i
        sbox[a] = s
    return bytes(sbox)


_ENC_SBOX = _enc_sbox()
#: GF(2^8) x2 / x3 lookup tables — MixColumns runs 32 multiplies per
#: round and the 2.B password hash encrypts ~10^4 blocks per file, so
#: the peasant-loop _enc_mul must not sit in that hot path.
_ENC_MUL2 = bytes(_enc_mul(x, 2) for x in range(256))
_ENC_MUL3 = bytes(_enc_mul(x, 3) for x in range(256))


def _enc_round_keys(key: bytes) -> List[bytes]:
    """AES schedule (128- or 256-bit key by length) over big-endian
    32-bit words; round key r is its four words' bytes concatenated
    (column-major, like the state).  Nk=8 inserts the extra SubWord at
    ``i % 8 == 4`` per FIPS-197."""
    nk = len(key) // 4
    nr = nk + 6
    w = [int.from_bytes(key[i: i + 4], "big") for i in range(0, len(key), 4)]
    rc = 1
    for i in range(nk, 4 * (nr + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = ((t << 8) | (t >> 24)) & 0xFFFFFFFF  # RotWord
            t = int.from_bytes(
                bytes(_ENC_SBOX[x] for x in t.to_bytes(4, "big")), "big"
            )  # SubWord
            t ^= rc << 24
            rc = _enc_mul(rc, 2)
        elif nk > 6 and i % nk == 4:
            t = int.from_bytes(
                bytes(_ENC_SBOX[x] for x in t.to_bytes(4, "big")), "big"
            )
        w.append(w[i - nk] ^ t)
    return [
        b"".join(w[4 * r + c].to_bytes(4, "big") for c in range(4))
        for r in range(nr + 1)
    ]


#: ShiftRows source index for flat 4*col+row: target 4c+r reads 4((c+r)%4)+r.
_ENC_SHIFT = tuple(4 * ((c + r) % 4) + r for c in range(4) for r in range(4))


def _enc_block(rks: List[bytes], block: bytes) -> bytes:
    """Forward cipher on one 16-byte block (state flat index 4*col+row).
    SubBytes/GF-multiplies run through C-speed bytes.translate and
    AddRoundKey through one 128-bit int XOR — the 2.B password hash
    (encrypt_pdf v=5) pushes ~10^4 sequential blocks through here."""
    rki = [int.from_bytes(rk, "big") for rk in rks]
    s = (int.from_bytes(block, "big") ^ rki[0]).to_bytes(16, "big")
    nr = len(rks) - 1
    for rnd in range(1, nr + 1):
        sub = s.translate(_ENC_SBOX)  # SubBytes
        s = bytes(map(sub.__getitem__, _ENC_SHIFT))  # ShiftRows
        if rnd < nr:  # MixColumns (table-driven GF multiplies)
            t2 = s.translate(_ENC_MUL2)
            t3 = s.translate(_ENC_MUL3)
            t = bytearray(16)
            for c in range(0, 16, 4):
                t[c + 0] = t2[c] ^ t3[c + 1] ^ s[c + 2] ^ s[c + 3]
                t[c + 1] = s[c] ^ t2[c + 1] ^ t3[c + 2] ^ s[c + 3]
                t[c + 2] = s[c] ^ s[c + 1] ^ t2[c + 2] ^ t3[c + 3]
                t[c + 3] = t3[c] ^ s[c + 1] ^ s[c + 2] ^ t2[c + 3]
            s = bytes(t)
        s = (int.from_bytes(s, "big") ^ rki[rnd]).to_bytes(16, "big")
    return s


def _enc_aes_cbc(
    key: bytes, iv: bytes, data: bytes, pad: bool = True
) -> bytes:
    """AES-CBC (128/256 by key length) with PKCS#7 padding (always
    1..16 pad bytes; ``pad=False`` = whole blocks only, the /UE//OE
    shape); returns ciphertext only — callers prepend the IV per
    AESV2/AESV3."""
    if pad:
        padding = 16 - (len(data) % 16)
        data = data + bytes((padding,)) * padding
    rks = _enc_round_keys(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        prev = _enc_block(
            rks, bytes(a ^ b for a, b in zip(data[i: i + 16], prev))
        )
        out += prev
    return bytes(out)


def _walk_pdf_objects(pdf: bytes):
    """Payload-aware object walk: yields (header_match, payload_start,
    payload_len) with payload_* None for stream-less objects.  A naive
    global ``N G obj`` regex scan can match BINARY bytes inside a
    Flate payload (doc 7's compressed stream happens to contain one) —
    this walker skips each declared /Length worth of payload before
    resuming the scan, so only real headers match."""
    import re as _re

    obj_re = _re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
    pos = 0
    n = len(pdf)
    while pos < n:
        m = obj_re.search(pdf, pos)
        if m is None:
            return
        end_at = pdf.find(b"endobj", m.end())
        probe_end = end_at if end_at >= 0 else n
        ms = _re.search(rb"stream\r?\n", pdf[m.end(): probe_end])
        if ms:
            mlen = _re.search(
                rb"/Length\s+(\d+)\b", pdf[m.end(): m.end() + ms.start()]
            )
            if mlen:
                start = m.end() + ms.end()
                ln = int(mlen.group(1))
                yield m, start, ln
                pos = start + ln
                continue
        yield m, None, None
        pos = m.end()


def _enc_hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """datagen's own ISO 32000-2 Algorithm 2.B (the /R 6 password
    hash) — independent of pdf_parse._hash_2b per the crypt
    cross-validation rule; the round-trip tests catch a one-sided
    bug."""
    import hashlib

    k = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        block = (pwd + k + udata) * 64
        e = _enc_aes_cbc(k[:16], k[16:32], block, pad=False)
        digest = {
            0: hashlib.sha256, 1: hashlib.sha384, 2: hashlib.sha512
        }[sum(e[:16]) % 3]
        k = digest(e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _enc_user_entry(file_key: bytes, r: int, file_id: bytes) -> bytes:
    """/U per ISO 32000-1 Algorithm 4 (R 2) / 5 (R >= 3) — the check
    value a conforming reader validates the user password against.
    Independent of pdf_parse's validator per the crypt
    cross-validation invariant."""
    if r == 2:
        return _enc_rc4(file_key, _ENC_PAD)
    import hashlib

    u = hashlib.md5(_ENC_PAD + file_id).digest()
    u = _enc_rc4(file_key, u)
    for i in range(1, 20):
        u = _enc_rc4(bytes(b ^ i for b in file_key), u)
    return u + bytes(range(16))  # 16 arbitrary pad bytes (deterministic)


def encrypt_pdf(
    pdf: bytes,
    v: int = 2,
    r: int = 3,
    nbits: int = 128,
    owner_entry: bytes = bytes(range(0xA0, 0xC0)),
    perms: int = -44,
    file_id: bytes = bytes.fromhex("00112233445566778899aabbccddeeff"),
    enc_onum: int = 90,
    encrypt_metadata: bool = True,
    id_literal: bool = False,
    password: bytes = b"",
) -> bytes:
    """Encrypt every stream payload of a datagen-built PDF under the
    standard security handler with an EMPTY user password (the
    "owner-locked" crawl shape) and append the /Encrypt dict + trailer.

    File key per Algorithm 2: md5(pad || /O || /P-le32 || /ID[0]), 50
    extra md5 folds when r >= 3; per-object key per 7.6.2:
    md5(file_key || objnum-le24 || gen-le16) truncated to
    min(len+5, 16).  Streams are located by walking ``N G obj`` headers
    and slicing each payload by its dict's direct ``/Length`` (always
    direct in datagen builders); RC4 preserves length so declared
    lengths and xref offsets stay valid.

    v=5 (with r=5 or 6) selects the AES-256 /CFM /AESV3 handler (ISO
    32000-2): a deterministic 32-byte file key is wrapped in /U //UE
    (and /O //OE, /Perms) via Algorithm 8/9/10 with EMPTY passwords,
    and objects encrypt under the file key directly.

    ``encrypt_metadata=False`` (meaningful for r >= 4) appends the
    Algorithm-2 FF FF FF FF suffix to the key md5 and emits
    /EncryptMetadata false; ``id_literal=True`` writes the trailer /ID
    as literal strings ``(...)`` instead of hex — both exist to pin the
    decryptor's corresponding branches."""
    import hashlib
    import re as _re

    if v == 5:
        file_key = hashlib.sha256(b"datagen-aes256-fk:" + file_id).digest()
        return _encrypt_pdf_aes(
            pdf, file_key, owner_entry, perms, file_id, enc_onum,
            v5_r=r if r in (5, 6) else 6, id_literal=id_literal,
            password=password,
        )

    h = hashlib.md5()
    h.update((password + _ENC_PAD)[:32])
    h.update(owner_entry[:32])
    h.update((perms & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(file_id)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")  # Algorithm 2 step f
    key = h.digest()
    n = nbits // 8 if r >= 3 else 5
    n = max(5, min(n, 16))
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    file_key = key[:n]

    if v == 4:  # /CFM /AESV2: lengths change, so re-serialize
        return _encrypt_pdf_aes(
            pdf, file_key, owner_entry, perms, file_id, enc_onum,
            encrypt_metadata=encrypt_metadata, id_literal=id_literal,
            password=password,
        )

    out = bytearray(pdf)
    for hm, start, ln in _walk_pdf_objects(pdf):
        if start is None:
            continue
        payload = pdf[start: start + ln]
        onum, gen = int(hm.group(1)), int(hm.group(2))
        ok = hashlib.md5(
            file_key
            + onum.to_bytes(3, "little")
            + gen.to_bytes(2, "little")
        ).digest()[: min(n + 5, 16)]
        out[start: start + ln] = _enc_rc4(ok, payload)

    id_entry = _id_array_entry(file_id, id_literal)
    user_entry = _enc_user_entry(file_key, r, file_id)
    tail = (
        f"{enc_onum} 0 obj\n<< /Filter /Standard /V {v} /R {r} "
        f"/O <{owner_entry.hex()}> /U <{user_entry.hex()}> "
        f"/P {perms} /Length {nbits} >>\nendobj\n"
        f"trailer\n<< /Encrypt {enc_onum} 0 R "
        f"/ID {id_entry} >>\n%%EOF\n"
    ).encode("latin-1")  # literal /ID carries raw bytes
    return bytes(out) + tail


def _id_array_entry(file_id: bytes, id_literal: bool) -> str:
    """Trailer /ID array in hex (default) or literal-string form; the
    literal form escapes the three PDF string specials."""
    if not id_literal:
        return f"[<{file_id.hex()}> <{file_id.hex()}>]"
    esc = (
        file_id.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
    ).decode("latin-1")
    return f"[({esc}) ({esc})]"


def _encrypt_pdf_aes(
    pdf: bytes,
    file_key: bytes,
    owner_entry: bytes,
    perms: int,
    file_id: bytes,
    enc_onum: int,
    v5_r: int | None = None,
    encrypt_metadata: bool = True,
    id_literal: bool = False,
    password: bytes = b"",
) -> bytes:
    """AESV2 (/V 4 /R 4) or — with ``v5_r`` set — AESV3 (/V 5 /R 5-6)
    encryption of a datagen-built PDF.  Unlike RC4, AES grows every
    payload (16-byte IV prefix + PKCS#7 padding), so this RE-SERIALIZES
    the document — each stream's direct /Length is patched to the
    ciphertext length and a fresh xref table + trailer replace the
    original tail (real encryption tools rewrite the xref for the same
    reason).  AESV2 per-object keys follow 7.6.2 with the b"sAlT"
    suffix; AESV3 objects encrypt under the 32-byte FILE key directly,
    wrapped for the empty user/owner passwords in /U //UE //O //OE
    //Perms per ISO 32000-2 Algorithms 8/9/10 (R 6 hash = 2.B; the
    draft R 5 = single SHA-256).  IVs are deterministic digests of the
    object number + /ID so datagen output is reproducible.  Scope:
    direct /Length table-xref or xref-less datagen files (the only
    shapes datagen emits for this path)."""
    import hashlib
    import re as _re

    def _h6(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
        if v5_r == 5:
            return hashlib.sha256(pwd + salt + udata).digest()
        return _enc_hash_2b(pwd, salt, udata)

    if v5_r is not None:
        vsalt = hashlib.md5(b"dg-vs" + file_id).digest()[:8]
        ksalt = hashlib.md5(b"dg-ks" + file_id).digest()[:8]
        pw = password[:127]
        u48 = _h6(pw, vsalt) + vsalt + ksalt
        ue = _enc_aes_cbc(_h6(pw, ksalt), bytes(16), file_key, pad=False)
        ovsalt = hashlib.md5(b"dg-ovs" + file_id).digest()[:8]
        oksalt = hashlib.md5(b"dg-oks" + file_id).digest()[:8]
        o48 = _h6(b"", ovsalt, u48) + ovsalt + oksalt
        oe = _enc_aes_cbc(
            _h6(b"", oksalt, u48), bytes(16), file_key, pad=False
        )
        perms_block = (
            (perms & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xff" + b"T" + b"adb" + b"dgen"
        )
        perms_ct = _enc_aes_cbc(
            file_key, bytes(16), perms_block, pad=False
        )  # ECB == CBC with a zero IV for one block
        enc_dict = (
            f"{enc_onum} 0 obj\n<< /Filter /Standard /V 5 /R {v5_r} "
            f"/Length 256 "
            f"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            f"/StmF /StdCF /StrF /StdCF "
            f"/O <{o48.hex()}> /OE <{oe.hex()}> "
            f"/U <{u48.hex()}> /UE <{ue.hex()}> "
            f"/Perms <{perms_ct.hex()}> "
            f"/P {perms} >>\nendobj\n"
        ).encode("ascii")
    else:
        em = "" if encrypt_metadata else "/EncryptMetadata false "
        enc_dict = (
            f"{enc_onum} 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 "
            f"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            f"/StmF /StdCF /StrF /StdCF {em}"
            f"/O <{owner_entry.hex()}> "
            f"/U <{_enc_user_entry(file_key, 4, file_id).hex()}> "
            f"/P {perms} >>\nendobj\n"
        ).encode("ascii")

    entries = list(_walk_pdf_objects(pdf))
    headers = [hm for hm, _s, _l in entries]
    if not headers:
        return pdf
    # the original tail (xref table and/or trailer) is rebuilt, not
    # copied: its offsets are stale the moment lengths change
    tail_at = len(pdf)
    m_sx = None
    for m in _re.finditer(rb"startxref\s+(\d+)", pdf):
        m_sx = m
    if m_sx is not None:
        tail_at = int(m_sx.group(1))
    else:
        for m in _re.finditer(rb"(?m)^trailer\b", pdf):
            tail_at = min(tail_at, m.start())
    root_m = _re.search(rb"/Root\s+\d+\s+\d+\s+R", pdf[tail_at:])

    out = bytearray(pdf[: headers[0].start()])
    offsets: Dict[int, int] = {}
    for k, (hm, abs_start, ln) in enumerate(entries):
        span_end = (
            headers[k + 1].start() if k + 1 < len(headers) else tail_at
        )
        onum, gen = int(hm.group(1)), int(hm.group(2))
        offsets[onum] = len(out)
        span = pdf[hm.start(): span_end]
        rel = hm.end() - hm.start()
        if abs_start is None:
            out += span
            continue
        start = abs_start - hm.start()
        mlen = _re.search(
            rb"/Length\s+(\d+)\b", span[rel: start]
        )
        payload = span[start: start + ln]
        if v5_r is not None:
            okey = file_key  # AESV3: the file key IS the object key
        else:
            okey = hashlib.md5(
                file_key
                + onum.to_bytes(3, "little")
                + gen.to_bytes(2, "little")
                + b"sAlT"
            ).digest()[: min(len(file_key) + 5, 16)]
        iv = hashlib.md5(
            b"datagen-iv" + onum.to_bytes(4, "big") + file_id
        ).digest()
        ct = iv + _enc_aes_cbc(okey, iv, payload)
        head = span[:start]
        a, b = rel + mlen.start(1), rel + mlen.end(1)
        out += head[:a] + str(len(ct)).encode("ascii") + head[b:]
        out += ct + span[start + ln:]

    offsets[enc_onum] = len(out)
    out += enc_dict
    xref_at = len(out)
    max_obj = max(offsets)
    lines = ["xref", f"0 {max_obj + 1}", "0000000000 65535 f "]
    for i in range(1, max_obj + 1):
        if i in offsets:
            lines.append(f"{offsets[i]:010d} 00000 n ")
        else:
            lines.append("0000000000 65535 f ")
    root = (" " + root_m.group(0).decode("ascii")) if root_m else ""
    out += ("\n".join(lines) + "\n").encode("ascii")
    out += (
        f"trailer\n<< /Size {max_obj + 1}{root} "
        f"/Encrypt {enc_onum} 0 R "
        f"/ID {_id_array_entry(file_id, id_literal)} >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode("latin-1")  # literal /ID carries raw bytes
    return bytes(out)


def make_pdf_page(doc_id: int, seed: int = 42) -> Dict[str, object]:
    """Deterministic PDF page row (same input_hint shape as make_page):
    title (h1-sized), body paragraphs, and a URL-bearing footer line.
    Odd doc_ids get a FlateDecode content stream, even ids raw."""
    rng = random.Random((seed << 32) ^ doc_id ^ 0x5DF0)
    lang = "de" if doc_id % 5 == 3 else "en"
    words = _WORDS_DE if lang == "de" else _WORDS_EN
    title = _sentence(rng, words, rng.randint(4, 8))
    paras = [
        _paragraph(rng, words, rng.randint(2, 4))
        for _ in range(rng.randint(3, 8))
    ]
    footer = (
        "Visit http://example.test/terms or www.example.test/privacy "
        "for the legal notices"
    )
    blocks = [(24, title)] + [(11, p) for p in paras] + [(9, footer)]
    # container-format rotation: same text blocks in every PDF 1.4/1.5
    # shape the parser supports — raw, FlateDecode, xref STREAM with the
    # Up predictor, Form-XObject body with an endobj-poisoning image
    # stream.  Extraction (and thus all goldens/oracles) is identical
    # across variants by construction; the rotation makes the flagship
    # corpus exercise the xref-driven and Do-expansion paths.
    variant = doc_id % 4
    if variant == 2:
        pdf = build_xref_pdf(blocks, xref_stream=True, predictor=True)
    elif variant == 3:
        pdf = build_xref_pdf(blocks, form_xobject=True, endobj_trap=True)
    else:
        pdf = build_pdf(blocks, compress=(doc_id % 2 == 1))
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=doc_id % 31_536_000)
    return {
        "url": f"https://example-{doc_id % 1000}.test/doc/{doc_id}.pdf",
        "warc_ts": ts,
        "html": pdf,  # input_hint column carries the raw byte stream
        "text": " ".join(paras),
        "lang": lang,
    }


# ----------------------------------------------------------- image fixtures
#
# Deterministic PNG/BMP payloads with a CLOSED-FORM pixel function, the
# image twin of build_pdf: sample value at (x, y, channel c) of doc d is
#
#     v(d, x, y, c) = (7x + 13y + 31d + 17c) mod 256
#
# so per-image statistics (mean, fg ratio) have exact SQL closed forms and
# the REAL decode kernel (operators/multimodal.py) can sit under the
# driver's DuckDB gate.  PNG rows are filtered with a doc-dependent filter
# type so all five unfilter paths (None/Sub/Up/Average/Paeth) are
# exercised by the gate, not just tests.


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    import zlib

    return (
        len(payload).to_bytes(4, "big")
        + typ
        + payload
        + zlib.crc32(typ + payload).to_bytes(4, "big")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def build_png(width: int, height: int, channels: int, pixval,
              filter_type: int = 0) -> bytes:
    """Valid 8-bit PNG (gray / RGB / RGBA) with every scanline filtered by
    ``filter_type`` (0-4).  ``pixval(x, y, c) -> 0..255``."""
    import struct
    import zlib

    ctype = {1: 0, 3: 2, 4: 6}[channels]
    bpp = channels
    stride = width * channels
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(
            pixval(x, y, c) & 0xFF
            for x in range(width)
            for c in range(channels)
        )
        filt = bytearray(stride)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            cc = prev[i - bpp] if i >= bpp else 0
            if filter_type == 0:
                filt[i] = line[i]
            elif filter_type == 1:
                filt[i] = (line[i] - a) & 0xFF
            elif filter_type == 2:
                filt[i] = (line[i] - b) & 0xFF
            elif filter_type == 3:
                filt[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            else:
                filt[i] = (line[i] - _paeth(a, b, cc)) & 0xFF
        raw += bytes([filter_type]) + filt
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def build_bmp(width: int, height: int, pixval) -> bytes:
    """Valid uncompressed 24-bit bottom-up BMP with 4-byte row padding.
    ``pixval(x, y, c)`` with c in (0=R, 1=G, 2=B), y counted top-down."""
    row_bytes = (width * 3 + 3) & ~3
    pix = bytearray()
    for y in range(height - 1, -1, -1):  # disk order is bottom-up
        row = bytearray()
        for x in range(width):
            row += bytes(
                [pixval(x, y, 2) & 0xFF, pixval(x, y, 1) & 0xFF,
                 pixval(x, y, 0) & 0xFF]
            )  # BGR on disk
        row += b"\x00" * (row_bytes - len(row))
        pix += row
    size = 54 + len(pix)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return bytes(header + pix)


def media_dims(doc_id: int) -> tuple:
    """(width, height, channels) closed form shared with the SQL oracle."""
    w = 4 + (doc_id % 5) * 2
    h = 4 + (doc_id % 3) * 2
    ch = 1 if doc_id % 3 == 0 else 3
    return w, h, ch


def make_media_payload(doc_id: int) -> bytes:
    """One deterministic image per doc_id: gray PNG (doc_id%3==0, filter
    type doc_id%5), RGB PNG (doc_id%3==1, filter (doc_id+2)%5), or 24-bit
    BMP (doc_id%3==2) — all with the closed-form pixel function."""
    w, h, ch = media_dims(doc_id)

    def pixval(x: int, y: int, c: int) -> int:
        return (7 * x + 13 * y + 31 * doc_id + 17 * c) % 256

    if doc_id % 3 == 2:
        return build_bmp(w, h, pixval)
    return build_png(
        w, h, ch, pixval,
        filter_type=(doc_id % 5) if ch == 1 else ((doc_id + 2) % 5),
    )


def audio_params(doc_id: int) -> tuple:
    """(sample_rate, channels, n_frames) closed form shared with the SQL
    oracle (mm_audio_features)."""
    rate = (8000, 16000, 44100, 22050)[doc_id % 4]
    ch = 1 + doc_id % 2
    n_frames = 400 + (doc_id % 7) * 37
    return rate, ch, n_frames


def audio_sample(doc_id: int, frame: int, c: int) -> int:
    """Closed-form signed 16-bit PCM sample — pure integer arithmetic so
    the SQL oracle reproduces it exactly."""
    return (doc_id * 2654435761 + frame * 40503 + c * 9973) % 65536 - 32768


def build_wav(doc_id: int) -> bytes:
    """Deterministic RIFF/WAVE (PCM, 16-bit LE, interleaved) from the
    closed-form sample function — with a leading non-audio ``cue ``
    chunk before ``fmt `` so decoders must actually WALK chunks rather
    than assume the canonical 44-byte layout."""
    import numpy as np

    rate, ch, n_frames = audio_params(doc_id)
    idx = np.arange(n_frames * ch, dtype=np.int64)
    frames, chans = idx // ch, idx % ch
    vals = (
        doc_id * 2654435761 + frames * 40503 + chans * 9973
    ) % 65536 - 32768
    data = vals.astype("<i2").tobytes()
    cue = b"cue \x04\x00\x00\x00\x00\x00\x00\x00"
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + ch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * ch * 2).to_bytes(4, "little")  # byte rate
        + (ch * 2).to_bytes(2, "little")         # block align
        + (16).to_bytes(2, "little")             # bits/sample
    )
    body = cue + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body


def video_params(doc_id: int) -> tuple:
    """(width, height, n_frames, usec_per_frame) closed form shared with
    the SQL oracle (mm_video_meta)."""
    w = 160 + (doc_id % 4) * 80
    h = 120 + (doc_id % 3) * 60
    n_frames = 24 + (doc_id % 10) * 12
    usec = (33333, 41708, 16667, 20000)[doc_id % 4]
    return w, h, n_frames, usec


def build_avi(doc_id: int) -> bytes:
    """Deterministic RIFF/AVI container: JUNK chunk first (decoders must
    walk, not slice at fixed offsets), then ``LIST hdrl`` holding the
    56-byte ``avih`` main header, then an empty ``LIST movi``.  No
    encoded frames — container metadata is the decode surface here."""
    w, h, n_frames, usec = video_params(doc_id)
    avih = (
        usec.to_bytes(4, "little")          # dwMicroSecPerFrame
        + (0).to_bytes(4, "little") * 3     # maxbytes/padding/flags
        + n_frames.to_bytes(4, "little")    # dwTotalFrames
        + (0).to_bytes(4, "little") * 3     # initial/streams/bufsize
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4     # dwReserved
    )
    hdrl = b"hdrl" + b"avih" + len(avih).to_bytes(4, "little") + avih
    junk = b"JUNK" + (4).to_bytes(4, "little") + b"\x00" * 4
    movi = b"LIST" + (4).to_bytes(4, "little") + b"movi"
    body = (
        junk
        + b"LIST" + len(hdrl).to_bytes(4, "little") + hdrl
        + movi
    )
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"AVI " + body


def video_frame_params(doc_id: int) -> tuple:
    """(width, height, n_frames) closed form for the UNCOMPRESSED
    (BI_RGB) frame-bearing AVI — mirrored literally in the
    ``mm_video_frames`` oracle SQL (CLAUDE.md invariant 8: change either
    side only in lockstep).  Dimensions are chosen so every pixel value
    below stays < 256 (no modulo wrap → exact closed-form channel sums)
    and so one width (25: 75-byte rows) exercises the 4-byte BMP row
    padding the decoder must skip."""
    w = 16 + (doc_id % 3) * 9          # 16 / 25 / 34
    h = 8 + (doc_id % 2) * 4           # 8 / 12
    n_frames = 6 + (doc_id % 5) * 3    # 6 .. 18
    return w, h, n_frames


def build_avi_frames(doc_id: int) -> bytes:
    """Deterministic RIFF/AVI with REAL uncompressed frames: ``LIST
    hdrl`` holds the avih main header plus a ``LIST strl`` ('vids'
    strh with handler 'DIB ', BITMAPINFOHEADER strf, biCompression=0 =
    BI_RGB 24-bit); ``LIST movi`` holds one ``00db`` chunk per frame of
    bottom-up BGR rows padded to 4 bytes — the codec-free corner of the
    AVI format, decodable without any media library.  Pixel (x, y) of
    frame f: B = 3x+f, G = 5y+2f, R = x+y+f (all < 256 by
    construction), so per-frame channel sums have exact integer closed
    forms shared with the oracle."""
    w, h, n_frames = video_frame_params(doc_id)
    stride = (w * 3 + 3) & ~3
    usec = 40000

    avih = (
        usec.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 3
        + n_frames.to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (1).to_bytes(4, "little")          # dwStreams
        + (stride * h).to_bytes(4, "little")  # dwSuggestedBufferSize
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )
    strh = (
        b"vids" + b"DIB "
        + (0).to_bytes(4, "little") * 4      # flags/prio/lang/initframes
        + (1).to_bytes(4, "little")          # dwScale
        + (25).to_bytes(4, "little")         # dwRate (25 fps)
        + (0).to_bytes(4, "little")          # dwStart
        + n_frames.to_bytes(4, "little")     # dwLength
        + (stride * h).to_bytes(4, "little")
        + (0xFFFFFFFF).to_bytes(4, "little")  # dwQuality
        + (0).to_bytes(4, "little")          # dwSampleSize
        + (0).to_bytes(8, "little")          # rcFrame
    )
    strf = (
        (40).to_bytes(4, "little")           # biSize
        + w.to_bytes(4, "little", signed=False)
        + h.to_bytes(4, "little", signed=False)  # positive = bottom-up
        + (1).to_bytes(2, "little")          # biPlanes
        + (24).to_bytes(2, "little")         # biBitCount
        + (0).to_bytes(4, "little")          # biCompression = BI_RGB
        + (stride * h).to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    frames = []
    for f in range(n_frames):
        rows = bytearray()
        for y in range(h - 1, -1, -1):       # bottom-up row order
            row = bytearray()
            for x in range(w):
                row += bytes((3 * x + f, 5 * y + 2 * f, x + y + f))
            row += b"\x00" * (stride - len(row))
            rows += row
        frames.append(chunk(b"00db", bytes(rows)))
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(frames))
    junk = chunk(b"JUNK", b"\x00" * 4)
    body = junk + hdrl + movi
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"AVI " + body


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
_PAGE_FIELDS = itemgetter("url", "warc_ts", "html", "text", "lang")


def _generated(spark, n: int, partitions: int, page):
    """Distributed generation: only doc ids are shipped to executors;
    ``page(doc_id)`` synthesizes each row there, so the driver never
    materializes page bytes (scales to any n).  Naive ``warc_ts`` values
    are UTC (the session time zone)."""
    from page_segmentation_spark.records import map_records

    ids = spark.range(0, n, 1, partitions)
    return map_records(
        ids, [], "id", lambda i: (_PAGE_FIELDS(page(i)),), PAGES_SCHEMA
    )


def mixed_pages_df(spark, n: int, seed: int = 42, partitions: int = 8,
                   pdf_every: int = 4):
    """Mixed HTML + PDF corpus: every ``pdf_every``-th page is a PDF byte
    stream — exercises the format-dispatching parse front-end."""

    def page(i):
        pdf = i % pdf_every == 0
        return make_pdf_page(i, seed) if pdf else make_page(i, seed)

    return _generated(spark, n, partitions, page)


def pages_df(spark, n: int, seed: int = 42, partitions: int = 32):
    """Synthetic pages table of ``n`` rows (see :func:`_generated`)."""
    return _generated(spark, n, partitions, lambda i: make_page(i, seed))


def write_pages(spark, path: str, n: int, seed: int = 42, partitions: int = 32):
    pages_df(spark, n, seed, partitions).write.mode("overwrite").parquet(path)
