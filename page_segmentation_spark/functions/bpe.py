"""Real byte-pair-encoding tokenizer (Sennrich-style greedy merges).

Upgrades the regex "BPE-ish" token ESTIMATE (functions/text.py
word_token_count) to an actual subword tokenizer: words split by
``_WORD_RE``, each word's symbol sequence (chars, last char carrying the
``</w>`` end-of-word marker) greedily merged lowest-rank-first against a
FROZEN merge table trained on the synthetic corpus by
``tools/train_bpe.py`` (rerun + paste to regenerate — a deliberate act,
like the trained_v1 architecture weights).

Spark surface: :func:`with_bpe_tokens` runs the encoder per row through
:func:`page_segmentation_spark.records.map_records`, with a per-word
memo cache — the Zipf distribution of real text makes the cache hit
rate very high, so the per-doc cost is ~O(distinct words).  No SQL
oracle exists for the iterative merge loop (it is not expressible in one
query), so the catalog row for this operator is rows-only.
"""

from __future__ import annotations

import re
from typing import Dict, List, Tuple

from page_segmentation_spark.records import map_records

_WORD_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]")

#: frozen merge table — `python tools/train_bpe.py 200 300` output.
MERGES: tuple = (
    ('e', 'n'),
    ('e', 's</w>'),
    ('i', 'n'),
    ('s', 't'),
    ('r', 'e'),
    ('s', 'c'),
    ('en', 't</w>'),
    ('h', 'e</w>'),
    ('t', 'he</w>'),
    ('d', 'e'),
    ('h', 'i'),
    ('a', 'l'),
    ('o', 'r'),
    ('a', 'n'),
    ('i', 'b'),
    ('t', 'e'),
    ('e', 'r</w>'),
    ('o', 'f</w>'),
    ('q', 'u'),
    ('in', 'es</w>'),
    ('d', 'o'),
    ('o', 'n'),
    ('en', 't'),
    ('u', 'm'),
    ('r', 'ib'),
    ('e', 'l'),
    ('l', 'e</w>'),
    ('f', 'u'),
    ('i', 'n</w>'),
    ('e', 'm'),
    ('s', 'y'),
    ('st', 'em'),
    ('sy', 'stem'),
    ('d', 'a'),
    ('r', 'a'),
    ('d', 'i'),
    ('e', 'n</w>'),
    ('c', 'a'),
    ('el', 'ines</w>'),
    ('i', 'p'),
    ('ip', 'elines</w>'),
    ('p', 'ipelines</w>'),
    ('t', 'o'),
    ('ca', 're'),
    ('care', 'fu'),
    ('carefu', 'l</w>'),
    ('en', 's</w>'),
    ('k', 'ens</w>'),
    ('to', 'kens</w>'),
    ('c', 'k</w>'),
    ('i', 'ck</w>'),
    ('qu', 'ick</w>'),
    ('hi', 'le</w>'),
    ('w', 'hile</w>'),
    ('do', 'g</w>'),
    ('f', 'o'),
    ('fo', 'x</w>'),
    ('an', 'd</w>'),
    ('hi', 'st'),
    ('hist', 'or'),
    ('histor', 'y</w>'),
    ('a', 's'),
    ('as', 'u'),
    ('asu', 're'),
    ('asure', 'm'),
    ('asurem', 'ent</w>'),
    ('e', 'asurement</w>'),
    ('m', 'easurement</w>'),
    ('de', 'l'),
    ('del', 's</w>'),
    ('m', 'o'),
    ('mo', 'dels</w>'),
    ('d', 'in'),
    ('din', 'g</w>'),
    ('in', 'ding</w>'),
    ('w', 'inding</w>'),
    ('c', 'or'),
    ('cor', 'de'),
    ('corde', 'd</w>'),
    ('re', 'corded</w>'),
    ('i', 'o'),
    ('io', 'n</w>'),
    ('t', 'ion</w>'),
    ('o', 'u'),
    ('al', 'i'),
    ('ali', 't'),
    ('alit', 'y</w>'),
    ('qu', 'ality</w>'),
    ('a', 'b'),
    ('ab', 'ou'),
    ('abou', 't</w>'),
    ('a', 'r'),
    ('ar', 't</w>'),
    ('l', 'on'),
    ('lon', 'g</w>'),
    ('system', 's</w>'),
    ('c', 'tion</w>'),
    ('e', 'x'),
    ('ex', 't'),
    ('ext', 'ra'),
    ('extra', 'ction</w>'),
    ('al', 'e</w>'),
    ('sc', 'ale</w>'),
    ('c', 'es</w>'),
    ('en', 'ces</w>'),
    ('ent', 'ences</w>'),
    ('s', 'entences</w>'),
    ('da', 't'),
    ('dat', 'a</w>'),
    ('b', 'r'),
    ('br', 'o'),
    ('bro', 'w'),
    ('brow', 'n</w>'),
    ('an', 'c'),
    ('anc', 'i'),
    ('anci', 'ent</w>'),
    ('j', 'um'),
    ('jum', 'p'),
    ('jump', 's</w>'),
    ('o', 'v'),
    ('ov', 'er</w>'),
    ('a', 'g'),
    ('ag', 'es</w>'),
    ('en', 'g'),
    ('eng', 'ines</w>'),
    ('p', 'ages</w>'),
    ('sc', 'rib'),
    ('scrib', 'es</w>'),
    ('a', 'z'),
    ('az', 'y</w>'),
    ('l', 'azy</w>'),
    ('c', 'on'),
    ('con', 't'),
    ('cont', 'ent</w>'),
    ('c', 'um'),
    ('cum', 'ent'),
    ('cument', 's</w>'),
    ('do', 'cuments</w>'),
    ('te', 'd</w>'),
    ('di', 'st'),
    ('dist', 'rib'),
    ('distrib', 'u'),
    ('distribu', 'ted</w>'),
    ('te', 'n</w>'),
    ('sc', 'h'),
    ('u', 'n'),
    ('de', 'r</w>'),
    ('b', 'er</w>'),
    ('t', 'e</w>'),
    ('un', 'd</w>'),
    ('c', 'h'),
    ('al', 'te</w>'),
    ('e', 'r'),
    ('er', 'te'),
    ('erte', 'i'),
    ('ertei', 'l'),
    ('erteil', 'ten</w>'),
    ('v', 'erteilten</w>'),
    ('de', 'n</w>'),
    ('el', 'le</w>'),
    ('n', 'elle</w>'),
    ('sch', 'nelle</w>'),
    ('di', 'e</w>'),
    ('e', 'st'),
    ('el', 'ten</w>'),
    ('est', 'hi'),
    ('esthi', 'elten</w>'),
    ('f', 'esthielten</w>'),
    ('a', 'u'),
    ('au', 'l'),
    ('aul', 'en</w>'),
    ('f', 'aulen</w>'),
    ('system', 'e</w>'),
    ('an', 'g'),
    ('ang', 'en</w>'),
    ('l', 'angen</w>'),
    ('da', 'ten</w>'),
    ('g', 'r'),
    ('gr', 'o</w>'),
    ('ch', 's</w>'),
    ('fu', 'chs</w>'),
    ('a', 'sch'),
    ('asch', 'in'),
    ('aschin', 'en</w>'),
    ('m', 'aschinen</w>'),
    ('g', 't</w>'),
    ('in', 'gt</w>'),
    ('p', 'r'),
    ('pr', 'ingt</w>'),
    ('s', 'pringt</w>'),
    ('en', 'd</w>'),
    ('h', 'r'),
    ('hr', 'end</w>'),
    ('b', 'ra'),
    ('bra', 'un'),
    ('braun', 'e</w>'),
    ('h', 'und</w>'),
    ('m', 'i'),
    ('mi', 't</w>'),
    ('ch', 'te</w>'),
)

_RANK: Dict[Tuple[str, str], int] = {p: i for i, p in enumerate(MERGES)}


def _set_merges(merges) -> None:
    """Install a merge table (tests / retraining); rebuilds the rank
    index and clears the word cache."""
    global MERGES, _RANK
    MERGES = tuple(tuple(p) for p in merges)
    _RANK = {p: i for i, p in enumerate(MERGES)}
    _WORD_CACHE.clear()


_WORD_CACHE: Dict[str, Tuple[str, ...]] = {}


def bpe_word(word: str) -> Tuple[str, ...]:
    """Subword tokens of one (lowercased) word: greedy lowest-rank pair
    merging until no ranked pair remains."""
    cached = _WORD_CACHE.get(word)
    if cached is not None:
        return cached
    syms: List[str] = list(word[:-1]) + [word[-1] + "</w>"]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = _RANK.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i: best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    out = tuple(syms)
    if len(_WORD_CACHE) < 1_000_000:  # bound executor memory
        _WORD_CACHE[word] = out
    return out


def bpe_encode(text: str) -> List[str]:
    """Subword tokens of a document (words lowercased; punctuation and
    digit runs are their own words per ``_WORD_RE``)."""
    out: List[str] = []
    for w in _WORD_RE.findall(text.lower()):
        out.extend(bpe_word(w))
    return out


def _bpe_row(text):
    toks = bpe_encode(text or "")
    return ((len(toks), ",".join(toks[:8])),)


def with_bpe_tokens(df, text_col: str = "text", id_cols: tuple = ("doc_id",)):
    """BPE encoding per row: ``id_cols`` (their types kept) plus
    ``n_bpe_tokens`` (long) and ``bpe_preview`` (first 8 tokens,
    comma-joined — bounded output).  The token list itself is
    intentionally not materialized as a column at corpus scale (it
    multiplies the table size ~5x; counts and previews cover the
    filtering/packing uses)."""
    return map_records(
        df,
        list(id_cols),
        text_col,
        _bpe_row,
        "n_bpe_tokens long, bpe_preview string",
    )
