"""Fast regex HTML tokenizer (parser v2) — a drop-in event source for the
block collector in :mod:`page_segmentation_spark.html_parse`.

The stdlib ``html.parser`` costs ~half the parse budget in regex-driven
Python dispatch.  This tokenizer scans with one compiled regex and feeds
the SAME ``_BlockCollector`` handlers, so node semantics (and therefore
byte-identity with the oracle) are unchanged — checked against
html.parser driving the same collector (tests/test_charset.py) and pinned
by the frozen goldens.

Intentional simplifications vs html.parser (the oracle and the Spark
parse stage both run this tokenizer, so they always agree; html.parser
stays the test-side reference it is checked against):
  * only class/id attributes are materialized (the boilerplate class
    hint is all the collector reads; other attributes are ignored);
  * a ``>`` inside a quoted attribute value terminates the tag early
    (html.parser scans quotes) — pathological; the collector tolerates
    the resulting junk data;
  * character refs are resolved per data segment via ``html.unescape``.
"""

from __future__ import annotations

import re
from html import unescape

_TOKEN = re.compile(
    r"<!--.*?(?:-->|$)"          # comments (unterminated -> rest of doc)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>?"                # doctype / other declarations
    r"|<\?[^>]*>?"               # processing instructions
    r"|</\s*([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"   # end tag  (group 1)
    r"|<([a-zA-Z][a-zA-Z0-9:-]*)((?:[^>])*?)(/?)>",  # start tag (2,3,4)
    re.S,
)

#: elements whose raw content is skipped up to the matching close tag —
#: exactly html.parser's CDATA_CONTENT_ELEMENTS, so nested-tag
#: bookkeeping inside noscript/template/svg stays identical to v1
_RAWTEXT = ("script", "style")

#: class/id extraction from a raw attribute string — the only attributes
#: the collector reads (boilerplate class hints, html_parse.BOILER_HINT_RE).
#: \b keeps 'width=' from matching 'id='.
_CLASS_ID = re.compile(
    r"""\b(class|id)\s*=\s*("([^"]*)"|'([^']*)'|([^\s>"']+))""", re.I
)


def _class_id_attrs(raw: str):
    """Minimal attrs list [(name, value), ...] with only class/id, the
    values unquoted — same shape html.parser hands the collector."""
    out = []
    for m in _CLASS_ID.finditer(raw):
        val = m.group(3) if m.group(3) is not None else (
            m.group(4) if m.group(4) is not None else m.group(5)
        )
        out.append((m.group(1).lower(), val))
    return out


def feed_events(collector, html: str) -> None:
    """Drive a _BlockCollector with events tokenized from ``html``."""
    pos = 0
    n = len(html)
    lower = None  # lazily lowered copy for rawtext close-tag search
    # bind the per-event callees once: the loop fires ~200+ events per
    # page and each dotted lookup costs a dict probe per event
    handle_data = collector.handle_data
    handle_endtag = collector.handle_endtag
    search = _TOKEN.search
    while pos < n:
        m = search(html, pos)
        if m is None:
            data = html[pos:]
            if data:
                handle_data(unescape(data) if "&" in data else data)
            break
        if m.start() > pos:
            data = html[pos: m.start()]
            handle_data(unescape(data) if "&" in data else data)
        end_name, start_name, _attrs, selfclose = m.group(1, 2, 3, 4)
        pos = m.end()
        if end_name is not None:
            handle_endtag(end_name.lower())
        elif start_name is not None:
            tag = start_name.lower()
            attrs = (
                _class_id_attrs(_attrs)
                if _attrs and ("class" in _attrs or "id" in _attrs
                               or "CLASS" in _attrs or "ID" in _attrs)
                else []
            )
            if selfclose:
                collector.handle_startendtag(tag, attrs)
            else:
                collector.handle_starttag(tag, attrs)
                if tag in _RAWTEXT:
                    # skip raw content to the matching close tag
                    if lower is None:
                        lower = html.lower()
                    close = lower.find("</" + tag, pos)
                    if close == -1:
                        collector.handle_endtag(tag)
                        break
                    gt = html.find(">", close)
                    pos = (gt + 1) if gt != -1 else n
                    collector.handle_endtag(tag)
        # else: comment/declaration/PI -> ignored
