"""Physical-plan audits (scale discipline, SURVEY §6): column pruning
reaches the scan, filters push down to parquet, small dims broadcast,
pair blocking never degrades to nested-loop/cartesian, top-k plans as
TakeOrderedAndProject, and the scorer stays inside whole-stage codegen.

These assert the PLAN, not timings — the properties that survive a 100x
scale-up."""

import pytest

from page_segmentation_spark.datagen import pages_df
from page_segmentation_spark.plans.extract import extract
from page_segmentation_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_scan_pruned_to_url_html(spark, tmp_path):
    """Parse needs (url, html) only; the parquet scan must not read the
    other three input columns (ReadSchema pruning)."""
    src = str(tmp_path / "pages")
    pages_df(spark, 8, partitions=1).write.parquet(src)
    plan = _plan(extract(spark.read.parquet(src)))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "url:string" in ln and "html:binary" in ln
        assert "warc_ts" not in ln and "lang" not in ln
        assert "text:string" not in ln


def test_catalog_filter_pushed_to_parquet(spark):
    """doc_id < 60 must reach the scan as a pushed parquet filter."""
    plan = _plan(QUERIES["dedup_simhash"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    assert any("LessThan(doc_id" in ln for ln in pushed), pushed


def test_dim_joins_broadcast(spark):
    """Triple-align join: both dimension sides broadcast, never shuffled."""
    plan = _plan(QUERIES["s1_triple_align"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_lsh_verified",
     "sim_lsh_neardup"],
)
def test_pair_blocking_never_nested_loop(spark, name):
    """Every near-dup pair stage must plan as equi-joins on its blocking
    key — a nested-loop or cartesian here is quadratic at 10^12 docs."""
    plan = _plan(QUERIES[name](spark, SF))
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_ivf_assign_is_shuffle_free(spark):
    """IVF coarse assignment must be a broadcast-array projection: no
    shuffle Exchange on the corpus side and no row multiplication (the
    naive crossJoin(centroids) + row_number() window multiplies 10^12
    rows by n_centroids and shuffles the multiplied table)."""
    from pyspark.sql import functions as F

    from page_segmentation_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("list_id"), F.col("embedding").alias("cvec")
    )
    assigned = ivf_assign(emb, cent)
    plan = _plan(assigned)
    # the only allowed exchanges: the single-row centroid aggregation
    # (Exchange SinglePartition on a 4-row side) and its broadcast
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan
    rows = assigned.collect()
    assert len(rows) == {r[0] for r in emb.agg(F.count(F.lit(1))).collect()}.pop()


def test_semantic_dedup_pair_stage_is_cluster_equi_join(spark):
    """SemDeDup's pair search must equi-join on the cluster id (hash
    join keyed by list_id) — quadratic only WITHIN a cluster.  The two
    BroadcastNestedLoopJoin Cross nodes are the intentional ONE-ROW
    centroid-array attaches from ivf_assign (N x 1 rows, not a pair
    blow-up); a CartesianProduct or a non-equi pair join is the failure
    mode this audit guards."""
    plan = _plan(QUERIES["sim_semantic_dedup"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    # the a-vs-b pair stage: an equi hash join on alist == blist
    assert "HashJoin [alist" in plan, plan
    # every nested-loop node is a single-row scalar attach (identity
    # broadcast of the collapsed centroid array), never a pair join
    import re

    nl = [m.start() for m in re.finditer("BroadcastNestedLoopJoin", plan)]
    # one single-row centroid attach per ivf_assign leg: a, b, output,
    # plus the cluster-size legs of the salted pair join (sizes + probe)
    assert len(nl) <= 5, plan


def test_kmeans_step_single_aggregate_shuffle(spark):
    """One Lloyd iteration = zero-shuffle assignment + ONE hash
    aggregate keyed by list_id (map-side partial combine of dim integer
    sums).  More exchanges would mean the corpus is shuffled for the
    assignment too — the naive crossJoin+window shape."""
    plan = _plan(QUERIES["sim_kmeans_step"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    # corpus-side exchanges: the groupBy(list_id) agg, and the k-row
    # join back onto the previous centroid table
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_topk_is_take_ordered(spark):
    """Brute-force cosine top-k must not global-sort: TakeOrderedAndProject
    keeps k rows per partition and merges on the driver."""
    plan = _plan(QUERIES["sim_cosine_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_scorer_inside_wholestage_codegen(spark, tmp_path):
    """The classifier fold is Catalyst expressions — it must appear inside
    a WholeStageCodegen span, with zero Python eval operators."""
    src = str(tmp_path / "pages")
    pages_df(spark, 8, partitions=1).write.parquet(src)
    df = extract(spark.read.parquet(src))
    df.collect()  # AQE shows codegen spans only in the final plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in the compact form
    assert "*(" in plan
    assert "BatchEvalPython" not in plan


def test_queries_construction_is_action_free(spark):
    """Constructing EVERY queries() entry must run zero driver actions —
    plans stay lazy and composable (a .first()/collect() at construction
    time is a hidden job that serializes pipeline assembly at scale)."""
    from pyspark.sql import DataFrame

    actions = ("collect", "first", "take", "head", "count", "toPandas",
               "foreach", "foreachPartition")
    saved = {a: getattr(DataFrame, a) for a in actions}

    def _boom(name):
        def _f(self, *args, **kwargs):
            raise AssertionError(
                f"driver action DataFrame.{name}() during plan construction"
            )
        return _f

    try:
        for a in actions:
            setattr(DataFrame, a, _boom(a))
        for name, fn in QUERIES.items():
            fn(spark, SF)
    finally:
        for a, f in saved.items():
            setattr(DataFrame, a, f)


def test_survey_rows_inside_driver_recorded_window():
    """The driver records a prefix of the catalog (round 4: first 50 of
    73).  Every SURVEY §2-mapped row, flagship, funnel, and mm_* row must
    sit inside that window so CORRECTNESS_r{N}.json carries a row for
    each — the catalog reorder block in queries.py pins this."""
    keys = list(QUERIES)
    must_be_recorded = [
        "s1_triple_align", "j5_range_join", "a1_profile", "a2_vote",
        "a3_bbox", "a4_label_pct", "a5_fgpa", "a6_overlap_per_class",
        "a8_accuracy", "a9_f1", "a10_cc_matching",
        "a11_per_component_metric", "a12_char_height", "a13_average_all",
        "w1_islands", "w2_segments", "w3_xycut_segments",
        "x1_set_intersection", "x2_split", "x3_folds", "x4_section_concat",
        "f2_filename_verification", "f4_shape_filter", "p12_points_parse",
        "p14_overlay_mask", "extract_flagship", "extract_fused_flagship",
        "extract_pdf_flagship", "extract_pdf_encrypted",
        "extract_arch_wide", "extract_arch_trained",
        "pipeline_training_corpus", "mm_media_stats", "mm_feature_extract",
        "mm_audio_features", "mm_video_meta", "text_bpe_tokens",
    ]
    for name in must_be_recorded:
        assert keys.index(name) < 50, (name, keys.index(name))


def test_catalog_priority_names_unique_and_known():
    """Every _PRIORITY entry names a registered row exactly once: a
    duplicate or a typo makes the priority window silently shorter."""
    from page_segmentation_spark.queries import _PRIORITY

    assert len(_PRIORITY) == len(set(_PRIORITY))
    assert [n for n in _PRIORITY if n not in QUERIES] == []


def test_one_arrow_boundary():
    """records.map_records is the package's only Python-UDF boundary:
    no other module calls ``mapInArrow``/``mapInPandas`` (the grouped
    ``applyInPandas*`` operators are a different shape)."""
    import ast
    import pathlib

    import page_segmentation_spark

    root = pathlib.Path(page_segmentation_spark.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("mapInArrow", "mapInPandas")
            ):
                calls.append(str(path.relative_to(root)))
    assert calls == ["records.py"]
