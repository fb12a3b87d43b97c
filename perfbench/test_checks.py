"""The benchmark's output checks must trip on corrupted output.

    python3 -m pytest perfbench/test_checks.py -q

No Spark session: the "program output" here is built from the same
references the checks use, then corrupted one field at a time."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, inputs  # noqa: E402

SEED = 5
N = 40


@pytest.fixture(scope="module")
def pages():
    return {
        r["url"]: r["html"]
        for r in (inputs.page_row(i, SEED, mixed=True) for i in range(N))
    }


def _clean_output(pages):
    from page_segmentation_spark.oracle import extract_document

    rows = {}
    for url, html in pages.items():
        ref = extract_document(html)
        rows[url] = (ref["extracted_text"], list(ref["spans"]), ref["n_nodes"])
    return rows


def _check(rows, pages, urls=None):
    urls = list(rows) if urls is None else urls
    return checks.check_extraction(urls, rows, pages, pages)


def test_sample_covers_every_page_kind():
    ids = checks.sample_ids(2000, SEED)
    assert {i % checks.KINDS for i in ids} == set(range(checks.KINDS))
    assert ids == checks.sample_ids(2000, SEED)


def test_oracle_output_passes(pages):
    failed, why = _check(_clean_output(pages), pages)
    assert not failed, why


@pytest.mark.parametrize("field", ["text", "spans", "n_nodes"])
def test_corrupted_field_trips(pages, field):
    rows = _clean_output(pages)
    url = next(u for u, r in rows.items() if r[0] and r[1])
    text, spans, n_nodes = rows[url]
    if field == "text":
        rows[url] = (text[:-1] + chr(ord(text[-1]) ^ 1), spans, n_nodes)
    elif field == "spans":
        s, e, c = spans[0]
        rows[url] = (text, [(s, e + 1, c)] + spans[1:], n_nodes)
    else:
        rows[url] = (text, spans, n_nodes + 1)
    failed, _why = _check(rows, pages)
    assert failed == {url}


def test_missing_and_duplicated_urls_trip(pages):
    rows = _clean_output(pages)
    urls = list(rows)
    dropped, doubled = urls[3], urls[7]
    got = [u for u in urls if u != dropped] + [doubled]
    failed, _why = _check(rows, pages, got)
    assert {dropped, doubled} <= failed


@pytest.fixture(scope="module")
def wet():
    docs = inputs.wet_docs(120, SEED)
    return docs, checks.funnel_gates(docs)


def _survivors(gated):
    """Min-url representative per fingerprint of the gate-passing rows."""
    keep = {}
    for u in sorted(u for u, r in gated.items() if r is not None):
        keep.setdefault(gated[u][2], u)
    return {u: gated[u] for u in keep.values()}


def test_wet_corpus_exercises_every_gate(wet):
    docs, gated = wet
    kept = [r for r in gated.values() if r is not None]
    assert 0 < len(kept) < len(docs)
    assert {r[0] for r in kept} >= {"en", "de"}
    assert len(_survivors(gated)) < len(kept)  # exact duplicates


def test_funnel_twin_output_passes(wet):
    _docs, gated = wet
    failed, why = checks.check_funnel(_survivors(gated), gated)
    assert not failed, why


def test_corrupted_funnel_row_trips(wet):
    _docs, gated = wet
    got = _survivors(gated)
    url = sorted(got)[0]
    lang, n_tokens, fp, text = got[url]
    got[url] = (lang, n_tokens, fp, text + " ")
    failed, _why = checks.check_funnel(got, gated)
    assert failed == {url}


def test_dropped_or_resurrected_row_trips(wet):
    _docs, gated = wet
    got = _survivors(gated)
    gone = sorted(got)[1]
    del got[gone]
    dropped = next(u for u, r in gated.items() if r is None)
    got[dropped] = ("en", 1, "0" * 16, "x")
    failed, _why = checks.check_funnel(got, gated)
    assert failed == {gone, dropped}


def test_wrong_dedup_representative_trips(wet):
    _docs, gated = wet
    got = _survivors(gated)
    fps = {}
    for u, r in gated.items():
        if r is not None:
            fps.setdefault(r[2], []).append(u)
    dup = sorted(next(us for us in fps.values() if len(us) > 1))
    del got[dup[0]]
    got[dup[-1]] = gated[dup[-1]]
    failed, _why = checks.check_funnel(got, gated)
    assert dup[0] in failed
