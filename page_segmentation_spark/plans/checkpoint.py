"""Per-partition checkpointed execution with lineage + metrics sidecar.

North-rule requirement: the 10^12-row extraction job must be resumable
from checkpoint with per-partition lineage and extraction metrics.  The
reference's analog is best-only model checkpointing + early stopping
(lib/network.py:177-194); at the data plane our unit of commit is a hash
bucket of urls (at production scale: an Iceberg partition).

Protocol (idempotent):
  * the input is split into ``n_buckets`` by the portable url hash;
  * each bucket runs the supplied job and writes
    ``{output}/bucket=<k>/`` atomically (parquet overwrite of that dir);
  * a ``_progress/bucket=<k>.json`` manifest records lineage (bucket,
    bucket count, row counts, settings fingerprint, app id) and
    per-bucket metrics;
  * re-running skips buckets whose manifest exists and whose settings
    fingerprint matches — kill it anywhere and re-run for an identical
    final table.  A re-run with another bucket count raises instead.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from page_segmentation_spark.functions.hashing import h32


def bucket_of(col, n_buckets: int):
    return (h32(col.cast("string")) % n_buckets).cast("int")


def input_fingerprint(
    spark: SparkSession, source: str, format: str = "parquet"
) -> str:
    """Stable fingerprint of the INPUT table state, for keying checkpoint
    manifests to the exact input snapshot (re-run over changed input must
    recompute, not skip).

    * ``format="iceberg"``: the table's current snapshot id — the real
      thing (``<table>.snapshots`` metadata table; config-complete, needs
      the Iceberg runtime per sources/sinks.py docstring).
    * ``format="parquet"``: md5 over the sorted (relative path, size)
      listing of the directory — the sandbox stand-in for a snapshot id.
    """
    import hashlib

    if format == "iceberg":
        row = spark.sql(
            f"SELECT snapshot_id FROM {source}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return f"iceberg-snapshot-{row[0] if row else 'empty'}"
    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(source)):
        for fname in sorted(files):
            if fname.startswith((".", "_")):
                continue  # _SUCCESS / .crc are not data
            rel = os.path.relpath(os.path.join(root, fname), source)
            size = os.path.getsize(os.path.join(root, fname))
            h.update(f"{rel}\x1f{size}\n".encode())
    return f"files-{h.hexdigest()}"


def _manifest_path(output_dir: str, k: int) -> str:
    return os.path.join(output_dir, "_progress", f"bucket={k}.json")


def committed_buckets(output_dir: str, fingerprint: str, n_buckets: int) -> List[int]:
    """Buckets whose manifest matches ``fingerprint``.  Raises
    ``ValueError`` when any manifest under ``_progress/`` was written
    with another bucket count, or with none (a manifest older than the
    ``n_buckets`` field): recomputing cannot repair that, because
    ``read_result`` would still read the stale ``bucket=<k>`` directories
    (their urls re-bucket elsewhere, so rows would duplicate)."""
    progress = os.path.join(output_dir, "_progress")
    names = os.listdir(progress) if os.path.isdir(progress) else []
    done = []
    for name in sorted(names):
        if not (name.startswith("bucket=") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(progress, name)) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue  # partial/corrupt manifest -> recompute bucket
        if "n_buckets" not in m:
            raise ValueError(
                f"{output_dir}/_progress/{name} records no n_buckets (it "
                "predates bucket-count manifests), so its bucketing cannot "
                "be checked; rerun into a new output directory"
            )
        if m["n_buckets"] != n_buckets:
            raise ValueError(
                f"{output_dir} was checkpointed with n_buckets="
                f"{m['n_buckets']}, not {n_buckets}; write to a new "
                "output directory"
            )
        if m.get("fingerprint") == fingerprint:
            done.append(int(name[len("bucket="):-len(".json")]))
    return sorted(done)


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    job: Callable[[DataFrame], DataFrame],
    output_dir: str,
    n_buckets: int = 16,
    key_col: str = "url",
    fingerprint: str = "default",
) -> Dict:
    """Run ``job`` bucket-by-bucket with commit manifests.  Returns a
    summary dict {completed, skipped, total_rows}.

    At sandbox scale the bucket filter re-scans the input per bucket;
    on a real Iceberg table the url-hash bucket IS the partition spec and
    each pass is partition-pruned (metadata-only selection)."""
    os.makedirs(os.path.join(output_dir, "_progress"), exist_ok=True)
    done = set(committed_buckets(output_dir, fingerprint, n_buckets))
    skipped, completed, total_rows = sorted(done), [], 0
    src = pages.withColumn("_bucket", bucket_of(F.col(key_col), n_buckets))
    for k in range(n_buckets):
        if k in done:
            continue
        part = src.where(F.col("_bucket") == k).drop("_bucket")
        result = job(part)
        dest = os.path.join(output_dir, f"bucket={k}")
        result.write.mode("overwrite").parquet(dest)
        written = spark.read.parquet(dest)
        n = written.count()
        n_extracted = (
            written.where(F.length("extracted_text") > 0).count()
            if "extracted_text" in written.columns
            else None
        )
        manifest = {
            "bucket": k,
            "n_buckets": n_buckets,
            "fingerprint": fingerprint,
            "rows": n,
            "rows_extracted": n_extracted,
            "app_id": spark.sparkContext.applicationId,
            "committed_at_epoch": int(time.time()),
        }
        tmp = _manifest_path(output_dir, k) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, _manifest_path(output_dir, k))  # atomic commit
        completed.append(k)
        total_rows += n
    return {
        "completed": completed,
        "skipped": skipped,
        "total_rows": total_rows,
        "output_dir": output_dir,
    }


def read_result(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "bucket=*"))
