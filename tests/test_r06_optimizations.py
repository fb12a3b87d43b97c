"""Round-6 optimization internals: the rolling-hash gram kernel, the
pushdown barrier, and plan-shape pins for the restructured operators.

Value identity of the big rewrites (featurize / cc_majority / with_spans
/ funnel) is already pinned by the golden, oracle-parity, and
value-identity suites; these tests cover the NEW mechanisms directly."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from page_segmentation_spark.operators import dedup as D


def _h64(w: str) -> int:
    return int(hashlib.md5(w.encode("utf-8")).hexdigest()[:16], 16)


def _ref_gram_hash(words, p, k):
    """Direct (non-rolling) evaluation of the polynomial the kernel's
    prefix/extract arithmetic must reproduce."""
    acc = 0
    for w in words[p:p + k]:
        acc = (acc * D._GRAM_B + _h64(w)) & D._GRAM_MASK
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def test_gram_kernel_matches_direct_polynomial():
    k = 3
    words = "alpha beta gamma beta alpha delta beta gamma".split()
    batches = [_make_batch([(7, words)])]
    rows = _run_kernel(batches, k)
    assert [r[1] for r in rows] == list(range(len(words) - k + 1))
    for (_id, pos, gh) in rows:
        assert gh == _ref_gram_hash(words, pos, k)
    # equal word windows hash equal; the two 'beta gamma' starts differ
    by_pos = {pos: gh for (_i, pos, gh) in rows}
    assert words[1:4] != words[3:6]
    assert by_pos[1] != by_pos[3]


def test_gram_kernel_short_and_exact_length_docs():
    k = 4
    rows = _run_kernel(
        [_make_batch([(1, ["a", "b", "c"]), (2, ["a", "b", "c", "d"])])], k
    )
    # doc shorter than k yields no grams (the r5 sequence/slice form
    # raised on this shape); doc of exactly k yields one
    assert [(r[0], r[1]) for r in rows] == [(2, 0)]


def test_gram_kernel_same_gram_across_docs():
    k = 2
    rows = _run_kernel(
        [_make_batch([(1, ["x", "y", "z"]), (2, ["q", "x", "y"])])], k
    )
    gh = {(r[0], r[1]): r[2] for r in rows}
    assert gh[(1, 0)] == gh[(2, 1)]  # shared 'x y'
    assert len(set(gh.values())) == 3


def _make_batch(docs):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([d[0] for d in docs], type=pa.int32()),
            pa.array([d[1] for d in docs], type=pa.list_(pa.string())),
        ],
        names=["id", "words"],
    )


def _run_kernel(batches, k):
    gram_hashes = D._gram_hasher(k)
    out = []
    for b in batches:
        for id_, words in zip(
            b.column("id").to_pylist(), b.column("words").to_pylist()
        ):
            out.extend((id_, pos, gh) for pos, gh in gram_hashes(words))
    return out


def test_span_scrub_end_to_end_values(spark):
    """Scrub semantics through the kernel path: the shared 4-gram is
    removed from every occurrence but the min-(id, pos) one."""
    boiler = "one two three four"
    rows = [
        (1, f"intro text {boiler} tail words here"),
        (2, f"{boiler} something unique for two"),
        (3, "completely unrelated document text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.duplicate_span_scrub(df, "doc_id", "text", k=4).collect()
    }
    assert out[1]["n_scrubbed"] == 0
    assert boiler in out[1]["clean_text"]
    assert out[2]["n_scrubbed"] == 4
    assert boiler not in out[2]["clean_text"]
    assert "something unique for two" in out[2]["clean_text"]
    assert out[3]["n_scrubbed"] == 0


def test_pushdown_barrier_values_and_plan(spark):
    from page_segmentation_spark.functions.staging import pushdown_barrier

    df = spark.range(20).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id")).alias("t"),
    )
    derived = df.select(
        "id", "t", (F.length("t") + F.col("id")).alias("score")
    )
    plain = derived.where(F.col("score") > 4)
    barred = pushdown_barrier(derived, ["score"]).where(F.col("score") > 4)
    assert barred.columns == derived.columns
    assert sorted(map(tuple, barred.collect())) == sorted(
        map(tuple, plain.collect())
    )
    plan = barred._jdf.queryExecution().executedPlan().toString()
    # the filter tests the generated attribute — the derived expression
    # must not be re-expanded into the Filter condition
    assert "Generate" in plan
    assert "Filter (length" not in plan


def test_extract_plan_single_sort(spark):
    """The r06 single-ordering rewrite: post-exchange, the whole
    feature/vote/span chain shares ONE (url, node_idx) sort."""
    from page_segmentation_spark.datagen import pages_df
    from page_segmentation_spark.plans.extract import extract

    plan = (
        extract(pages_df(spark, 8, partitions=2))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort [url") <= 1, plan


def test_paragraph_dedup_values_unchanged(spark):
    rows = [
        (1, "a b c a b c x y z"),
        (2, "a b c d e f"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.paragraph_dedup(
            df, "doc_id", D.word_chunks(F.col("text"), 3), max_dup=1
        ).collect()
    }
    # 'a b c' occurs in both docs (and twice in doc 1) -> dropped
    assert out[1]["clean_text"] == "x y z"
    assert out[1]["n_kept"] == 1 and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "d e f"


def test_c4_keep_line_rlike_word_count(spark):
    """The r6 anchored-rlike word-count in c4_keep_line must count
    exactly like the word-array form it replaced (and like the frozen
    DuckDB twin): >= min_words maximal non-space runs."""
    from page_segmentation_spark.functions.text import c4_keep_line

    cases = [
        "one two three four five.",          # exactly 5 -> keep
        "one two three four.",               # 4 -> drop
        "  leading spaces one two three four five.",
        "tab\tseparated words here now ok.",  # tab is a word char
        "multi  spaces   between words five six.",
        "a. b. c. d. e.",
        "",                                   # empty -> drop
        "      ",                             # spaces only -> drop
        "one-word.",                          # 1 -> drop
        ("w " * 60).strip() + ".",            # long line -> keep
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["line"])
    got = [
        bool(r["k"])
        for r in df.select(
            c4_keep_line(F.col("line")).alias("k")
        ).collect()
    ]

    def ref(line: str) -> bool:
        t = line.rstrip(" ")
        if not (t and t[-1] in (".", "!", "?", '"')):
            return False
        if len([w for w in t.split(" ") if w]) < 5:
            return False
        return "javascript" not in t.lower()

    assert got == [ref(c) for c in cases]


def test_c4_keep_line_min_words_edges(spark):
    from page_segmentation_spark.functions.text import c4_keep_line

    df = spark.createDataFrame([("word.",), ("  .",)], ["line"])
    # min_words=1: any non-space content counts ('.' alone is 1 word)
    got1 = [
        bool(r["k"])
        for r in df.select(
            c4_keep_line(F.col("line"), min_words=1).alias("k")
        ).collect()
    ]
    assert got1 == [True, True]
    # min_words=0: the count clause vanishes (always satisfied)
    got0 = [
        bool(r["k"])
        for r in df.select(
            c4_keep_line(F.col("line"), min_words=0).alias("k")
        ).collect()
    ]
    assert got0 == [True, True]


def test_gopher_non_ws_fold_matches_replace(spark):
    """The r6 aggregate-over-words non-whitespace count must equal the
    regexp_replace('\\s+','') length it replaced — including mixed
    whitespace, boundary empties, and blank text."""
    import re

    from page_segmentation_spark.functions.text import gopher_quality

    texts = [
        "plain words here.",
        "\tleading tab and trailing\t",
        "multi  spaces\nand\nnewlines",
        "",
        "   ",
        "word nbsp stays glued",
        "x",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "t"]
    )
    out = {
        r["id"]: r
        for r in gopher_quality(df, "id", "t", min_words=0).collect()
    }
    for i, t in enumerate(texts):
        n_words = out[i]["n_words"]
        # Java \s is ASCII-only (no  ) — mirror that, not Python's
        # unicode \s (the nbsp case pins exactly this distinction)
        non_ws = len(re.sub(r"[ \t\n\r\f\x0b]+", "", t))
        if n_words > 0:
            assert out[i]["mean_word_len"] == round(non_ws / n_words, 6)
        else:
            assert out[i]["mean_word_len"] == 0.0


def test_c4_emit_lines_roundtrip(spark):
    """emit_lines must satisfy the documented contract consumers rely
    on: clean_text == array_join(lines, '\n'), size(lines) == n_kept,
    and no element contains a newline."""
    from page_segmentation_spark.functions.text import c4_line_filter

    texts = [
        "good line one here now\nshort\nanother decent line of text ok",
        "javascript only line here yes\nmore text without banned word!",
        "",
        "one two three four five\r\nsix seven eight nine ten",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "t"]
    )
    rows = c4_line_filter(
        df, "id", "t", min_kept_lines=0, emit_lines="kl"
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert "\n".join(r["kl"]) == r["clean_text"]
        assert len(r["kl"]) == r["n_kept"]
        assert all("\n" not in ln for ln in r["kl"])


def test_gopher_lines_col_matches_resplit(spark):
    """gopher_quality(lines_col=...) must equal the default re-split
    form on every output column for any array satisfying the contract
    text == array_join(lines, '\n') — including the [] edge, whose
    join-then-split round trip yields [''], and single-line docs."""
    from page_segmentation_spark.functions.text import gopher_quality

    line_sets = [
        ["alpha beta gamma", "- bullet line", "trailing dots..."],
        [],
        ["single line and the with of to"],
        ["", "", ""],          # blank lines survive a '\n' round trip
        ["• bullet", "plain", "ellipsis…"],
    ]
    df = spark.createDataFrame(
        [(i, ls) for i, ls in enumerate(line_sets)], ["id", "ls"]
    ).select(
        "id", "ls", F.array_join("ls", "\n").alias("t")
    )
    base = {
        r["id"]: r
        for r in gopher_quality(df, "id", "t", min_words=0).collect()
    }
    reused = {
        r["id"]: r
        for r in gopher_quality(
            df, "id", "t", min_words=0, lines_col="ls"
        ).collect()
    }
    assert set(base) == set(reused)
    for i in base:
        assert tuple(base[i]) == tuple(reused[i]), f"row {i} differs"


def test_with_lang_id_padded_col_identity(spark):
    """with_lang_id(padded_col=...) must produce the same lang for the
    same text as the self-built padded form, and must consume (not
    emit) the padded column."""
    from page_segmentation_spark.functions.text import with_lang_id

    texts = [
        "the cat and the dog with the ball",
        "el perro y el gato en la casa",
        "der Hund und die Katze mit dem Ball",
        "le chien et le chat dans la maison",
        "",
        "zzz qqq xxx",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "t"]
    )
    pre = df.select(
        "*",
        F.concat(F.lit(" "), F.lower(F.col("t")), F.lit(" ")).alias("pp"),
    )
    base = {r["id"]: r["lang"] for r in with_lang_id(df, "t").collect()}
    shared = with_lang_id(pre, "t", padded_col="pp")
    assert "pp" not in shared.columns
    got = {r["id"]: r["lang"] for r in shared.collect()}
    assert base == got


def test_funnel_share_wiring_matches_unshared(spark):
    """_funnel_from_extracted (kept-lines + padded-lower shared across
    C4/gopher/langid) must be row-identical to the unshared composition
    of the same operators over hostile text shapes."""
    from page_segmentation_spark.functions.staging import pushdown_barrier
    from page_segmentation_spark.functions.text import (
        c4_line_filter,
        fingerprint,
        gopher_quality,
        with_lang_id,
    )
    from page_segmentation_spark.plans.training_corpus import (
        _funnel_from_extracted,
    )

    body = (
        "the quick brown fox jumps over the lazy dog again and again\n"
        "and the story of the dog and the fox continues here today\n"
        "with more of the words that the filters want to see now\n"
    )
    texts = [
        body * 3,
        body + "- bullet\n" * 2 + body,
        "short",                      # fails c4 min_kept_lines
        body.replace("the", "el") * 3,
        "",
    ]
    ext = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)],
        ["url", "extracted_text"],
    )

    def unshared(ext):
        c4 = c4_line_filter(ext, "url", "extracted_text")
        c4 = pushdown_barrier(c4, ["clean_text", "page_kept"])
        g = gopher_quality(
            c4.where(F.col("page_kept") == 1),
            "url",
            "clean_text",
            extra_cols=("clean_text",),
        )
        g = pushdown_barrier(g, ["keep"])
        sv = g.where(F.col("keep") == 1).select(
            "url", "clean_text", "n_words"
        )
        return with_lang_id(sv, "clean_text").select(
            "url",
            "lang",
            F.col("n_words").alias("n_tokens"),
            fingerprint(F.col("clean_text")).alias("content_fp"),
            "clean_text",
        )

    a = sorted(tuple(r) for r in unshared(ext).collect())
    b = sorted(tuple(r) for r in _funnel_from_extracted(ext).collect())
    assert a == b
