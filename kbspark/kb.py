"""Knowledge-base materialization: the four graph tables mirroring the
reference's SQLite KB schema (north_star output), written through the
catalog with per-partition lineage and exact resume.

Tables (reference analogs):
- ``entities``   — canonical dictionary: page_title, QID, TYPE, proba
                   (the reference's `entities` table incl. the a-priori
                   proba column, wikipedia/entities.py:375)
- ``aliases``    — alias -> canonical title/QID (titles + redirects;
                   the EL job additionally mines corpus anchor texts
                   with P(target|alias) — kbspark.jobs.entity_linking_job)
- ``sitelinks``  — QID -> url occurrences (the `sitelink` URIs of
                   wikidata/entities.py:63, corpus-derived here)
- ``triples``    — canonicalized (subj, pred, obj, n_occurrences,
                   src_url), bucket-partitioned, resumable

The triples stage runs through ``lineage.run_stage`` (bucketed by url,
atomic manifest commits) — kill/rerun resumes exactly. The four tables
are then snapshot-overwritten (deterministic): each overwrite is an
independent per-table atomic swap, so the four are submitted at once
from threads and run as concurrent Spark jobs. The default FIFO
scheduler already hands idle cores to the later jobs; no scheduler pool,
conf or option is involved.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from kbspark.apriori import attach_probs
from kbspark.catalog import Catalog
from kbspark.corpus import (
    dim_frames_from_documents,
    pages_from_documents,
    try_dims_from_documents,
)
from kbspark.extract import (
    mention_stage,
    mention_stage_raw,
    resolve_mentions_frames,
)
from kbspark.triples import entity_dim_df
from kbspark.lineage import run_stage, stage_metrics


def build_knowledge_base(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    n_buckets: int = 16,
    fail_after_commits: int | None = None,
    dim_collect_cap: int | None = None,
) -> dict:
    """End-to-end KB build into ``warehouse``; returns metrics summary.

    Idempotent: a second call skips completed triple buckets (resume) and
    refreshes the dimension snapshots deterministically.

    Dim strategy is size-gated like the flagship (VERDICT r02 #2): a
    dictionary-sized vocabulary runs the broadcast-dict extract; above
    the cap nothing collects and every dictionary consumer (mention
    resolution, a-priori join, aliases, redirect triples) switches to
    DataFrame dims with planner-chosen join strategies.
    """
    cat = Catalog(spark, warehouse)
    kw = {} if dim_collect_cap is None else {"max_rows": dim_collect_cap}
    dims = try_dims_from_documents(spark, sf_dir, **kw)
    pages = pages_from_documents(spark, sf_dir)

    if dims is None:
        entity_dim, redirect_dim = dim_frames_from_documents(spark, sf_dir)
        dim = entity_dim.select("page_title", "TYPE", "QID")
    else:
        entity_types, redirect_targets = dims
        dim = entity_dim_df(spark, entity_types)

    # --- triples (big, resumable) ---------------------------------------
    # mention triples run per bucket (aggregation keys are url-local, so
    # bucket-wise results equal the global result); the corpus-independent
    # entity/redirect families are built once into the final snapshot.
    from kbspark.triples import mention_triples

    def mention_transform(pages_part: DataFrame) -> DataFrame:
        if dims is None:
            raw = mention_stage_raw(pages_part, spark)
            mentions = resolve_mentions_frames(
                raw, entity_dim, redirect_dim, broadcast_dims=False
            )
            mt = mention_triples(mentions, dim, broadcast_dim=False)
        else:
            mentions = mention_stage(
                pages_part, spark, entity_types, redirect_targets
            )
            mt = mention_triples(mentions, dim)
        return mt.select(
            "subj", "pred", "obj", "n_occurrences", "src_url",
            F.col("subj").alias("url"),  # lineage bucket key
        )

    stage_result = run_stage(
        cat,
        "mention_triples",
        pages,
        mention_transform,
        output_table="triples_mentions",
        key_col="url",
        n_buckets=n_buckets,
        fail_after_commits=fail_after_commits,
    )

    # --- snapshots (independent per-table atomic swaps, concurrent) -------
    from kbspark.triples import (
        entity_triples,
        redirect_alias_frame,
        redirect_triples,
    )

    mention_triples_df = cat.read("triples_mentions")
    links = mention_triples_df.select(
        F.col("obj").alias("QID"), "n_occurrences"
    )
    # a-priori proba per entity from the materialized mention triples
    # (A2), weighted by occurrence counts — the reference counts link
    # occurrences, not distinct pages (entities.py:330)
    qid_map = dim.select("QID", "page_title")
    if dims is not None:
        qid_map = F.broadcast(qid_map)  # dictionary-sized; frames -> AQE
    ent_with_proba = attach_probs(
        dim,
        links.join(qid_map, "QID").select(
            F.col("page_title").alias("target"), "n_occurrences"
        ),
        weight_col="n_occurrences",
        probs_hint="broadcast" if dims is not None else "auto",
    )

    own = dim.select(
        F.col("page_title").alias("alias"), "page_title", "QID", "TYPE"
    )
    if dims is None:
        from kbspark.triples import redirect_triples_frame

        red = redirect_alias_frame(spark, dim, redirect_dim=redirect_dim)
        red_triples = redirect_triples_frame(redirect_dim)
    else:
        red = redirect_alias_frame(
            spark, dim, redirect_targets=redirect_targets
        )
        red_triples = redirect_triples(spark, redirect_targets)

    _overwrite_concurrently(cat, {
        "entities": ent_with_proba.select(
            "page_title", "QID", "TYPE", "proba", "n_links"
        ),
        "aliases": own.unionByName(red).distinct(),
        "sitelinks": mention_triples_df.select(
            F.col("obj").alias("QID"), F.col("src_url").alias("url")
        ).distinct(),
        "triples": mention_triples_df.select(
            "subj", "pred", "obj", "n_occurrences", "src_url"
        ).unionByName(entity_triples(dim)).unionByName(red_triples),
    })

    return {
        "stage": stage_result,
        "metrics": stage_metrics(cat, "triples_mentions", "mention_triples"),
        "tables": {
            t: cat.row_count(t)
            for t in ("entities", "aliases", "sitelinks", "triples")
        },
    }


def _overwrite_concurrently(cat: Catalog, snapshots: dict) -> None:
    """Overwrite each table with its frame, one thread per table. The
    threads inherit the caller's job group, description and job tags; the
    first failure (in ``snapshots`` order) is re-raised once all have
    joined."""
    with ThreadPoolExecutor(len(snapshots)) as pool:
        futures = [
            # one wrapper per thread: each gets its own copy of the
            # caller's local properties
            pool.submit(inheritable_thread_target(cat.spark)(cat.overwrite),
                        table, df, meta={"stage": table})
            for table, df in snapshots.items()
        ]
    for f in futures:
        f.result()
