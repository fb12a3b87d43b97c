"""Seeded benchmark inputs with an on-disk cache.

Every input is a pure function of ``(kind, seed, size)``.  The cache key
also carries a digest of the generator sources (``datagen.py`` and this
file), so a change to either regenerates instead of silently reusing a
stale corpus.  A cache entry is complete only once its ``_DONE`` marker
exists; a half-written entry is discarded and rebuilt.

Kinds:

* ``pages``  - HTML pages from the datagen ``make_page`` schedule
  (giant, empty and boilerplate-only kinds included), Parquet, the rows
  datagen ``pages_df`` builds.
* ``mixed``  - HTML and PDF byte streams mixed as in datagen
  ``mixed_pages_df`` (every 4th document a PDF), Parquet.
* ``wet``    - WET files (per-record gzip) of seeded extracted texts
  with a fixed share of exact duplicates under other urls.
* ``warc``   - WARC files of mixed HTML and PDF responses, a fixed
  number of documents per file, for the streaming landing directory.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: every ``PDF_EVERY``-th document of a mixed corpus is a PDF
PDF_EVERY = 4
#: number of Parquet files a pages corpus is written as (fixed, so the
#: input layout does not depend on the machine)
PAGE_FILES = 16
#: WET documents per file
WET_PER_FILE = 500
#: WARC documents per landing file
WARC_PER_FILE = 20
#: every ``WET_DUP_EVERY``-th WET document repeats an earlier text
WET_DUP_EVERY = 7
#: complete cache entries kept; older ones are deleted (every run may
#: use a new seed)
CACHE_KEEP = 8
TS = "2024-01-01T00:00:00Z"


def source_digest() -> str:
    h = hashlib.sha256()
    for path in (
        os.path.join(ROOT, "page_segmentation_spark", "datagen.py"),
        os.path.abspath(__file__),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cache_dir(cache_root: str, kind: str, seed: int, size: int) -> str:
    return os.path.join(
        cache_root, f"{kind}-s{seed}-n{size}-{source_digest()}"
    )


def page_row(doc_id: int, seed: int, mixed: bool) -> dict:
    """The datagen row for ``doc_id`` of a pages (or mixed) corpus."""
    from page_segmentation_spark.datagen import make_page, make_pdf_page

    if mixed and doc_id % PDF_EVERY == 0:
        return make_pdf_page(doc_id, seed)
    return make_page(doc_id, seed)


# ------------------------------------------------------------ WET texts

_EN = (
    "the of and to with that have be data model page content system "
    "results analysis method research network value process using "
    "study large small report public market energy water city policy "
    "history science people health growth review design source local "
    "project summer winter language structure archive museum library "
    "garden travel kitchen river mountain village morning evening "
    "several different important general certain simple common "
    "measured described observed improved reported developed"
).split()
_DE = (
    "der die und das mit von nicht ist ein eine auch auf sich dem den "
    "werden wurde sind haben oder aber nach bei Stadt Wasser Bericht "
    "Forschung Geschichte Sprache Garten Reise Sommer Winter Museum"
).split()
_NAV = ("Home", "About us", "Contact", "Login", "Search", "Menu", "Share")


def _sentence(rng: random.Random, words, n: int) -> str:
    ws = [rng.choice(words) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + rng.choice(".....!?")


def _line(rng: random.Random, words) -> str:
    return " ".join(
        _sentence(rng, words, rng.randint(6, 14))
        for _ in range(rng.randint(2, 5))
    )


def wet_url(doc_id: int) -> str:
    return f"https://wet-{doc_id % 997}.test/text/{doc_id}"


def wet_text(doc_id: int, seed: int) -> str:
    """One extracted text.  A fixed kind schedule covers every funnel
    gate: short documents and bullet lists fail Gopher, 'lorem ipsum'
    and '{' drop the page in C4, navigation and 'javascript' lines are
    removed line by line, German documents change the language, and
    every 29th document is giant."""
    rng = random.Random((seed << 32) ^ doc_id ^ 0x77E7)
    kind = doc_id % 13
    # German with a few English stop words: passes Gopher's stop-word
    # rule, so the language gate decides it
    words = _DE + ["the", "and", "with"] if kind == 3 else _EN
    n_lines = 60 if doc_id % 29 == 7 else rng.randint(4, 12)
    lines = [" ".join(rng.choice(words).capitalize() for _ in range(4))]
    if kind == 0:
        n_lines = 1
    for k in range(n_lines):
        lines.append(_line(rng, words))
        if kind == 4 and k % 2 == 0:
            lines.append(" | ".join(rng.sample(_NAV, 3)))
        if kind == 5 and k == 1:
            lines.append("Please enable javascript to view this page.")
        if kind == 6:
            lines.append("- " + _sentence(rng, words, 4))
    if kind == 1:
        lines.insert(2, "Lorem ipsum dolor sit amet, consectetur.")
    if kind == 2:
        lines.append("function f() { return 1; } is the snippet used.")
    return "\n".join(lines)


def wet_docs(n: int, seed: int) -> list[tuple[str, str]]:
    """``[(url, text)]`` for a WET corpus of ``n`` documents; every
    ``WET_DUP_EVERY``-th one repeats a seeded earlier text verbatim."""
    rng = random.Random(seed ^ 0xD0B5)
    docs: list[tuple[str, str]] = []
    for i in range(n):
        if i % WET_DUP_EVERY == WET_DUP_EVERY - 1:
            text = docs[rng.randrange(i)][1]
        else:
            text = wet_text(i, seed)
        docs.append((wet_url(i), text))
    return docs


# ------------------------------------------------------------ builders


def _publish(tmp: str, final: str) -> str:
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _fresh(final: str) -> str | None:
    """None when ``final`` is a complete cache entry, else a clean
    temporary directory to build it in (after evicting the oldest
    entries beyond ``CACHE_KEEP``)."""
    if os.path.exists(os.path.join(final, "_DONE")):
        return None
    root = os.path.dirname(final)
    os.makedirs(root, exist_ok=True)
    entries = sorted(
        (os.path.join(root, e) for e in os.listdir(root)),
        key=os.path.getmtime,
    )
    for old in entries[: max(0, len(entries) - CACHE_KEEP + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def pages(cache_root: str, seed: int, n: int, mixed: bool) -> str:
    """Parquet pages corpus of the datagen rows ``0 .. n-1``, written as
    ``PAGE_FILES`` files of consecutive ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = cache_dir(cache_root, "mixed" if mixed else "pages", seed, n)
    tmp = _fresh(final)
    if tmp is None:
        return final
    os.makedirs(os.path.join(tmp, "data"))
    per = -(-n // PAGE_FILES)
    for f_idx, start in enumerate(range(0, n, per)):
        rows = [page_row(i, seed, mixed) for i in range(start, min(start + per, n))]
        table = pa.table({
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array(
                [r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        })
        pq.write_table(
            table, os.path.join(tmp, "data", f"part-{f_idx:05d}.parquet")
        )
    return _publish(tmp, final)


def wet(cache_root: str, seed: int, n: int) -> str:
    from page_segmentation_spark.sources.warc import build_wet

    final = cache_dir(cache_root, "wet", seed, n)
    tmp = _fresh(final)
    if tmp is None:
        return final
    docs = wet_docs(n, seed)
    os.makedirs(os.path.join(tmp, "data"))
    for f_idx in range(0, n, WET_PER_FILE):
        recs = [
            {"url": u, "ts": TS, "text": t}
            for u, t in docs[f_idx:f_idx + WET_PER_FILE]
        ]
        name = f"part-{f_idx // WET_PER_FILE:05d}.warc.wet.gz"
        with open(os.path.join(tmp, "data", name), "wb") as f:
            f.write(build_wet(recs))
    return _publish(tmp, final)


def warc(cache_root: str, seed: int, n_files: int) -> str:
    """``n_files`` WARC files of ``WARC_PER_FILE`` mixed documents each;
    file ``k`` holds documents ``k*WARC_PER_FILE ..`` in order.  The
    entry's ``urls.txt`` lists every document url in that order."""
    from page_segmentation_spark.sources.warc import build_warc

    final = cache_dir(cache_root, "warc", seed, n_files)
    tmp = _fresh(final)
    if tmp is None:
        return final
    os.makedirs(os.path.join(tmp, "data"))
    urls = []
    for k in range(n_files):
        ids = range(k * WARC_PER_FILE, (k + 1) * WARC_PER_FILE)
        recs = []
        for i in ids:
            row = page_row(i, seed, mixed=True)
            recs.append({"url": row["url"], "ts": TS, "body": row["html"]})
            urls.append(row["url"])
        name = f"part-{k:05d}.warc.gz"
        with open(os.path.join(tmp, "data", name), "wb") as f:
            f.write(build_warc(recs))
    with open(os.path.join(tmp, "urls.txt"), "w") as f:
        f.write("\n".join(urls) + "\n")
    return _publish(tmp, final)


def warc_urls(entry: str) -> list[str]:
    with open(os.path.join(entry, "urls.txt")) as f:
        return f.read().split()


def data_files(entry: str) -> list[str]:
    d = os.path.join(entry, "data")
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if not f.startswith((".", "_"))
    )


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6
