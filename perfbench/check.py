"""Correctness checks on committed output.

The committed table is read straight from its parquet files with
pyarrow, applying the catalog's commit rule (a row is visible only if
its ``(job_id, bucket)`` has a manifest row), so checking runs no Spark
job and stays out of every timing.

A document fails when its url is missing from the output, committed
more than once, or disagrees with the check. The check never skips a
document: every failure is counted.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.dataset as ds

from scripts_spark.plans.quality_checks import KNOWN_REASONS

# every reason a CurateConfig can emit (pipeline._reasons); the
# catalog's per-bucket metrics hard-code the first eight only, so
# per-reason counts are taken from the committed rows instead
ALL_REASONS = [
    "min_length", "repetition", "word_length", "digit_ratio", "caps_ratio",
    "boilerplate", "lang", "perplexity", "para_dup_frac", "near_dup",
]
F1_MIN = 0.99


def committed_rows(base: str) -> list[dict]:
    """Rows of ``catalog.read_output(base)``: data rows whose
    (job_id, bucket) commit unit has a manifest row."""
    data = os.path.join(base, "data")
    if not os.path.isdir(data):
        return []
    man = ds.dataset(os.path.join(base, "_manifest"), format="parquet")
    units = {
        (r["job_id"], r["bucket"])
        for r in man.to_table(columns=["job_id", "bucket"]).to_pylist()
    }
    cols = ["url", "keep", "filter_reasons", "scrubbed_text", "doc_id",
            "job_id", "bucket"]
    rows = ds.dataset(data, format="parquet", partitioning="hive").to_table(
        columns=cols
    ).to_pylist()
    return [r for r in rows if (r["job_id"], r["bucket"]) in units]


def committed_bytes(base: str) -> int:
    """Bytes under the committed ``data/``, ``_metrics/`` and
    ``_manifest/`` trees."""
    total = 0
    for sub in ("data", "_metrics", "_manifest"):
        for root, _, files in os.walk(os.path.join(base, sub)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def print_reasons(rows: list[dict]) -> None:
    """Per-reason drop counts of the committed rows, one line each.
    Printed, not reported as metrics: they are pinned by the check and
    have no better direction."""
    c = Counter(r for row in rows for r in row["filter_reasons"])
    for r in ALL_REASONS:
        print(f"reasons.{r} {c.get(r, 0)}", flush=True)


def check_batch(rows: list[dict], oracle: dict[str, dict]) -> dict:
    """Batch output against ``oracle.pipeline_oracle.curate_rows``:
    every distinct input url committed exactly once, the same keep
    decision and reasons, and a byte-identical ``scrubbed_text``.
    Keep/drop F1 (keep = positive class) must also reach ``F1_MIN``."""
    seen = Counter(r["url"] for r in rows)
    failed = set(u for u in oracle if seen[u] != 1)
    failed |= set(u for u in seen if u not in oracle)
    tp = fp = fn = 0
    for r in rows:
        want = oracle.get(r["url"])
        if want is None:
            continue
        tp += r["keep"] and want["keep"]
        fp += r["keep"] and not want["keep"]
        fn += want["keep"] and not r["keep"]
        if (
            r["keep"] != want["keep"]
            or list(r["filter_reasons"]) != want["filter_reasons"]
            or r["scrubbed_text"] != want["scrubbed_text"]
        ):
            failed.add(r["url"])
    f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
    return {
        "attempted": len(oracle),
        "failed": len(failed),
        "f1": f1,
        "correct": not failed and f1 >= F1_MIN,
    }


def check_stream(rows: list[dict], input_urls: set[str],
                 run_all: dict[str, int]) -> dict:
    """Stream output: every distinct input url committed exactly once,
    and ``plans.quality_checks.run_all`` clean. A document whose
    reasons fall outside the registry ``run_all`` checks against counts
    as failed, as does every document of a duplicated id."""
    seen = Counter(r["url"] for r in rows)
    failed = set(u for u in input_urls if seen[u] != 1)
    ids = Counter(r["doc_id"] for r in rows)
    for r in rows:
        unknown = set(r["filter_reasons"]) - set(KNOWN_REASONS)
        inconsistent = r["keep"] != (len(r["filter_reasons"]) == 0)
        if unknown or inconsistent or ids[r["doc_id"]] > 1:
            failed.add(r["url"])
    missing = sum(1 for u in input_urls if seen[u] == 0)
    return {
        "attempted": len(input_urls),
        "failed": len(failed),
        "missing": missing,
        "run_all": run_all,
        "correct": not failed and not any(run_all.values()),
    }
