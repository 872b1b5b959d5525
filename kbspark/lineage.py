"""D3 — per-partition checkpointed lineage + metrics with exact resume
(north_rule; SURVEY.md §2.H D3, §4 "Resume").

A *stage* maps an input DataFrame to an output table bucket-by-bucket:
the bucket is a deterministic hash of a key column (stable across runs
and partitionings), so each bucket's output content is a pure function
of the input snapshot. Buckets are committed in batches; each commit
atomically records both the data snapshot and the bucket markers + row
metrics in the catalog manifest (single rename — see kbspark.catalog).

Resume therefore needs no reconciliation: on restart, completed buckets
are read from the manifest and only pending buckets run. A crash between
batch commits loses at most the in-flight batch's work, never produces
duplicates, and the final table contents are value-identical to an
uninterrupted run (asserted in tests/test_lineage.py, including the
kill-mid-job scenario from SURVEY §5.5).

The reference analog: chunked idempotent SQLite appends
(ner.py:267-304) — made exact here via the manifest commit point.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from kbspark.catalog import Catalog


def bucket_of(key_col: str, n_buckets: int):
    """Deterministic bucket expression: pmod(xxhash64(key), n)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def completed_buckets(catalog: Catalog, table: str, stage: str) -> set[int]:
    done: set[int] = set()
    for entry in catalog.snapshots(table):
        meta = entry.get("meta", {})
        if meta.get("stage") == stage:
            done.update(meta.get("buckets", []))
    return done


def stage_metrics(catalog: Catalog, table: str, stage: str) -> list[dict]:
    """Per-commit metrics rows (stage, buckets, n_rows) — the metrics
    sink required by the north rule, queryable without reading data."""
    return [
        {"stage": stage, "buckets": e["meta"].get("buckets", []),
         "n_rows": e["n_rows"], "snapshot": e["snapshot"]}
        for e in catalog.snapshots(table)
        if e.get("meta", {}).get("stage") == stage
    ]


def run_stage(
    catalog: Catalog,
    stage: str,
    input_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    output_table: str,
    key_col: str = "url",
    n_buckets: int = 16,
    buckets_per_commit: int = 4,
    fail_after_commits: int | None = None,
) -> dict:
    """Run ``transform`` over ``input_df`` bucket-wise with resume.

    Single-pass: the transform runs ONCE over all pending buckets and the
    output lands partitioned by bucket in an uncommitted staging snapshot
    (one input scan — the round-1 design re-filtered the full input per
    commit batch, a ceil(n_buckets/buckets_per_commit)x read
    amplification at 100 TB). Commits are then metadata-only: each batch
    atomically appends a manifest entry referencing its staged partition
    directories. A crash between commits leaves the staged files orphaned
    and invisible; resume recomputes only the pending buckets (input scan
    filtered by the bucket predicate).

    ``fail_after_commits`` is the fault-injection hook for the kill/rerun
    test (raises after N commits, mid-job).

    Returns {"ran": [buckets], "skipped": [buckets], "commits": n}.
    """
    done = completed_buckets(catalog, output_table, stage)
    pending = [b for b in range(n_buckets) if b not in done]

    # resume-time GC: drop stage dirs no manifest entry references (the
    # orphans of a crash between staging and commit) before staging anew
    catalog.vacuum_stages(output_table)

    ran: list[int] = []
    commits = 0
    if pending:
        bucketed = input_df.withColumn("_bucket", bucket_of(key_col, n_buckets))
        if done:
            bucketed = bucketed.filter(~F.col("_bucket").isin(sorted(done)))
        out = transform(bucketed.drop("_bucket")).withColumn(
            "_bucket", bucket_of(key_col, n_buckets)
        )
        staged = catalog.stage_partitioned(output_table, out, "_bucket")
        try:
            for i in range(0, len(pending), buckets_per_commit):
                batch = pending[i : i + buckets_per_commit]
                catalog.commit_staged(
                    output_table, staged, batch,
                    meta={"stage": stage, "buckets": batch},
                )
                ran.extend(batch)
                commits += 1
                if (fail_after_commits is not None
                        and commits >= fail_after_commits):
                    raise RuntimeError(
                        f"fault injection: killed after {commits} commits"
                    )
        finally:
            # a killed writer's lease dies with its process; end it here
            catalog.release_stage(staged)
    return {"ran": ran, "skipped": sorted(done), "commits": commits}
