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
    Dims,
    dim_frames_from_documents,
    pages_from_documents,
    try_dims_from_documents,
)
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
    refreshes the dimension snapshots deterministically. The dims follow
    ``corpus.Dims`` (size-gated by ``dim_collect_cap``).
    """
    cat = Catalog(spark, warehouse)
    kw = {} if dim_collect_cap is None else {"max_rows": dim_collect_cap}
    dicts = try_dims_from_documents(spark, sf_dir, **kw)
    pages = pages_from_documents(spark, sf_dir)
    if dicts is None:
        dims = Dims(*dim_frames_from_documents(spark, sf_dir))
    else:
        dims = Dims.collected(spark, *dicts)
    dim = dims.entity

    # --- triples (big, resumable) ---------------------------------------
    # mention triples run per bucket (aggregation keys are url-local, so
    # bucket-wise results equal the global result); the corpus-independent
    # entity/redirect families are built once into the final snapshot.
    from kbspark.triples import mention_triples

    def mention_transform(pages_part: DataFrame) -> DataFrame:
        mt = mention_triples(
            dims.mentions(pages_part), dim, broadcast_dim=dims.broadcast
        )
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
        redirect_triples_frame,
    )

    mention_triples_df = cat.read("triples_mentions")
    links = mention_triples_df.select(
        F.col("obj").alias("QID"), "n_occurrences"
    )
    # a-priori proba per entity from the materialized mention triples
    # (A2), weighted by occurrence counts — the reference counts link
    # occurrences, not distinct pages (entities.py:330)
    qid_map = dim.select("QID", "page_title")
    # dictionary-sized when collected; frames -> AQE
    qid_map = F.broadcast(qid_map) if dims.broadcast else qid_map
    ent_with_proba = attach_probs(
        dim,
        links.join(qid_map, "QID").select(
            F.col("page_title").alias("target"), "n_occurrences"
        ),
        weight_col="n_occurrences",
        probs_hint=dims.hint,
    )

    own = dim.select(
        F.col("page_title").alias("alias"), "page_title", "QID", "TYPE"
    )
    red = redirect_alias_frame(spark, dim, redirect_dim=dims.redirect)
    red_triples = redirect_triples_frame(dims.redirect)

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
