"""Output checks: every benchmark run compares what the program wrote
against an independent reference before it reports a number.

* Extraction workloads: a seeded url sample is re-extracted in-process
  with ``oracle.extract_document`` and compared byte for byte on
  ``extracted_text``, ``spans`` and ``n_nodes``; every input url must
  appear exactly once.
* WET corpus funnel: a seeded document sample goes through the DuckDB
  twins of the funnel gates (``queries._c4_keep_sql``,
  ``queries._gopher_ct_sql``, ``functions.text.lang_score_sql``) and
  the surviving rows must agree with their verdicts.

Each check returns the set of failed document urls; the caller counts
them in ``failed``."""

from __future__ import annotations

import random
from typing import Iterable

#: extraction sample size (plus one document of every datagen kind)
SAMPLE = 48
#: funnel documents sent through the DuckDB twin
FUNNEL_SAMPLE = 160
#: datagen's ``make_page`` kind schedule period
KINDS = 17


def sample_ids(n: int, seed: int, k: int = SAMPLE) -> list[int]:
    """Seeded document ids to check: ``k`` random ones plus the first
    ``KINDS`` ids, which cover every datagen page kind."""
    rng = random.Random(seed ^ 0x5A3B1E)
    ids = set(rng.sample(range(n), min(k, n)))
    ids.update(range(min(KINDS, n)))
    return sorted(ids)


def _spans(v) -> list[tuple[int, int, int]]:
    return [tuple(int(x) for x in s) for s in (v or [])]


def check_extraction(
    got_urls: Iterable[str],
    got_rows: dict[str, tuple],
    expected: dict[str, bytes],
    all_urls: Iterable[str],
) -> tuple[set[str], list[str]]:
    """Compare program output with the oracle.

    ``got_urls``: every url in the output (duplicates included);
    ``got_rows``: url -> (extracted_text, spans, n_nodes) for the sample;
    ``expected``: url -> input bytes for the sample;
    ``all_urls``: every input url.
    Returns (failed urls, human-readable reasons)."""
    from page_segmentation_spark.oracle import extract_document

    failed: set[str] = set()
    why: list[str] = []
    seen: dict[str, int] = {}
    for u in got_urls:
        seen[u] = seen.get(u, 0) + 1
    want = set(all_urls)
    for u in want - seen.keys():
        failed.add(u)
        why.append(f"missing {u}")
    for u, c in seen.items():
        if u not in want or c != 1:
            failed.add(u)
            why.append(f"{u} appears {c}x (expected 1)")
    for u, content in expected.items():
        ref = extract_document(content)
        row = got_rows.get(u)
        if row is None:
            failed.add(u)
            why.append(f"sampled {u} absent")
            continue
        text, spans, n_nodes = row
        if text != ref["extracted_text"]:
            failed.add(u)
            why.append(f"{u}: extracted_text differs")
        if _spans(spans) != _spans(ref["spans"]):
            failed.add(u)
            why.append(f"{u}: spans differ")
        if n_nodes != ref["n_nodes"]:
            failed.add(u)
            why.append(f"{u}: n_nodes {n_nodes} != {ref['n_nodes']}")
    return failed, why


def funnel_gates(docs: list[tuple[str, str]]) -> dict[str, tuple | None]:
    """DuckDB twin of the stateless funnel gates with the default
    settings (C4: 5 words, 'javascript', 3 kept lines; Gopher: 50
    words): url -> (lang, n_tokens, content_fp, clean_text), or None
    when a gate drops the document.  Dedup is not applied."""
    import duckdb
    import pyarrow as pa

    from page_segmentation_spark import queries as Q
    from page_segmentation_spark.functions import text as T

    sql = f"""
    WITH c4 AS (
      SELECT url, t,
             list_filter(string_split(t, chr(10)),
                         x -> {Q._c4_keep_sql('x', 5, 'javascript')}) AS kept
      FROM ext
    ), page AS (
      SELECT url, array_to_string(kept, chr(10)) AS ct
      FROM c4
      WHERE NOT (contains(lower(t), 'lorem ipsum') OR contains(t, chr(123)))
        AND len(kept) >= 3
    ), {Q._gopher_ct_sql(50)}, scored AS (
      SELECT url, ct,
        CASE WHEN length(trim(ct)) = 0 THEN 0
             ELSE len(string_split_regex(trim(ct), '\\s+')) END AS n_tokens,
        substr(md5(regexp_replace(lower(trim(ct)), '\\s+', ' ', 'g')), 1, 16)
          AS content_fp,
        {T.lang_score_sql('ct', 'en')} AS s_en,
        {T.lang_score_sql('ct', 'de')} AS s_de,
        {T.lang_score_sql('ct', 'fr')} AS s_fr,
        {T.lang_score_sql('ct', 'es')} AS s_es
      FROM keepers
    )
    SELECT url,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0.0 THEN 'und'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           content_fp,
           ct AS clean_text
    FROM scored
    """
    ext = pa.table(
        {"url": [u for u, _ in docs], "t": [t for _, t in docs]}
    )
    con = duckdb.connect()
    try:
        con.register("ext", ext)
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    out: dict[str, tuple | None] = {u: None for u, _ in docs}
    out.update({r[0]: tuple(r[1:]) for r in rows})
    return out


def check_funnel(
    got: dict[str, tuple], gated: dict[str, tuple | None]
) -> tuple[set[str], list[str]]:
    """``got``: url -> (lang, n_tokens, content_fp, clean_text) for every
    surviving row; ``gated``: the twin's verdict for a sample of input
    urls (:func:`funnel_gates`).  Survivors must carry distinct
    fingerprints; a sampled document the twin drops must not survive;
    one it keeps must either survive with the twin's row or lose the
    dedup to a survivor with the same fingerprint and a smaller url."""
    failed: set[str] = set()
    why: list[str] = []
    by_fp: dict[str, str] = {}
    for u, row in got.items():
        other = by_fp.setdefault(row[2], u)
        if other != u:
            failed |= {u, other}
            why.append(f"{u} and {other} both survive with one fingerprint")
    for u, ref in gated.items():
        if ref is None:
            if u in got:
                failed.add(u)
                why.append(f"{u} survived, the twin drops it")
            continue
        keeper = by_fp.get(ref[2])
        if keeper is None:
            failed.add(u)
            why.append(f"{u}: no survivor carries its fingerprint")
        elif keeper == u and tuple(got[u]) != tuple(ref):
            failed.add(u)
            why.append(f"{u}: row differs from the twin")
        elif keeper > u:
            failed.add(u)
            why.append(f"{u}: dedup kept the larger url {keeper}")
    return failed, why
