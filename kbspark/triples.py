"""Canonicalized triple materialization (north_star output shape;
FIXTURES.md §9).

Emits ``(subj, pred, obj, n_occurrences, src_url)`` rows from the
mention table and the entity dimension tables — mentions are aggregated
across snapshots, so there is no single ``warc_ts`` per triple; the
snapshot timestamp lives on the INPUT table and in the catalog manifest
metadata. Relationships mirror the reference's SQLite KB tables
(entities / links / entity_linking):

- ``(page_url, 'mentions', QID)``       — one per resolved entity mention
  (the reference's `links` occurrences, wikipedia/entities.py:330,363)
- ``(QID, 'instance_of', TYPE)``        — entity typing
  (TYPE string per wikidata/entities.py:69-70)
- ``(QID, 'sitelink', sitelink)``       — sitelinks table
- ``(QID, 'label', label)``             — labels
- ``(alias_title, 'redirects_to', title)`` — the alias/redirect edges
  (wikipedia/entities.py:89-127)

Scale notes: the mention→entity join broadcasts the entity dimension
(dictionary-sized, ~10^6 rows — same object the reference ships to every
worker); triple dedup is the one wide operation and pre-aggregates
map-side via groupBy count (partial aggregation) before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def qid_col(title_col: str = "page_title"):
    """Deterministic synthetic QID for corpora without real Wikidata ids:
    'Q' + decimal(md5 prefix). Stable across engines and partitionings."""
    return F.concat(
        F.lit("Q"), F.conv(F.substring(F.md5(F.col(title_col)), 1, 6), 16, 10)
    )


def _dict_frame(spark, mapping: dict[str, str], key_col: str,
                value_col: str) -> DataFrame:
    """dict -> two-column DataFrame with the empty-dict dtype fallback
    (createDataFrame cannot infer a schema from an empty frame) — one
    implementation for every dict-shaped dim (round-3 review: the block
    was copy-pasted three times in this module)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {key_col: list(mapping.keys()), value_col: list(mapping.values())}
    )
    if pdf.empty:
        pdf = pd.DataFrame({key_col: pd.Series(dtype="object"),
                            value_col: pd.Series(dtype="object")})
    return spark.createDataFrame(pdf)


def entity_dim_df(spark, entity_types: dict[str, str]) -> DataFrame:
    """Broadcastable entity dimension from a title->TYPE dict."""
    return _dict_frame(spark, entity_types, "page_title", "TYPE").withColumn(
        "QID", qid_col()
    )


def redirect_alias_frame(spark, dim: DataFrame,
                         redirect_targets: dict[str, str] | None = None,
                         redirect_dim: DataFrame | None = None,
                         proba: float | None = None) -> DataFrame:
    """(alias, page_title, QID, TYPE[, proba]) — redirect edges enriched
    with the entity dimension. One implementation for BOTH dim paths
    (round-3 review: the logic was copy-pasted across the EL job and the
    KB build in dict and frame variants): pass ``redirect_targets``
    (collected dict, bounded by DIM_COLLECT_CAP) or ``redirect_dim``
    (DataFrame (alias, page_title), the corpus-scaling path)."""
    if redirect_dim is None:
        redirect_dim = _dict_frame(
            spark, redirect_targets or {}, "alias", "page_title"
        )
    out = redirect_dim.join(
        dim.select("page_title", "QID", "TYPE"), "page_title"
    ).select("alias", "page_title", "QID", "TYPE")
    if proba is not None:
        out = out.withColumn("proba", F.lit(proba))
    return out


def mention_triples(mentions: DataFrame, entity_dim: DataFrame,
                    broadcast_dim: bool = True) -> DataFrame:
    """Resolved mentions -> (url, 'mentions', QID) triples with an
    occurrence count. Broadcast join (dim side is dictionary-sized;
    ``broadcast_dim=False`` lets the planner shuffle-join a dim beyond
    broadcast budgets); dedup happens as a count aggregation so the
    shuffle carries pre-combined partial rows, not raw mentions."""
    dim = F.broadcast(entity_dim) if broadcast_dim else entity_dim
    return (
        mentions.filter(F.col("entity_type") != "O")
        .join(dim, "page_title")
        .groupBy(
            F.col("url").alias("subj"),
            F.lit("mentions").alias("pred"),
            F.col("QID").alias("obj"),
        )
        .agg(F.count("*").alias("n_occurrences"))
        .withColumn("src_url", F.col("subj"))
    )


def entity_triples(entity_dim: DataFrame) -> DataFrame:
    """(QID, 'instance_of', TYPE) per dictionary entry."""
    return entity_dim.select(
        F.col("QID").alias("subj"),
        F.lit("instance_of").alias("pred"),
        F.col("TYPE").alias("obj"),
        F.lit(1).cast("long").alias("n_occurrences"),
        F.col("page_title").alias("src_url"),
    )


def redirect_triples_frame(redirect_dim: DataFrame) -> DataFrame:
    """(alias, 'redirects_to', target) per edge of the redirect dim
    (alias, page_title)."""
    return redirect_dim.select(
        F.col("alias").alias("subj"),
        F.lit("redirects_to").alias("pred"),
        F.col("page_title").alias("obj"),
        F.lit(1).cast("long").alias("n_occurrences"),
        F.col("alias").alias("src_url"),
    )


def build_triples_from_frames(
    mentions: DataFrame,
    entity_dim: DataFrame,
    redirect_dim: DataFrame,
    broadcast_dim: bool = False,
) -> DataFrame:
    """Union of all triple families, one row per (subj, pred, obj).
    ``entity_dim`` must carry (page_title, TYPE, QID); ``redirect_dim``
    (alias, page_title). ``broadcast_dim`` forces the mention join to
    broadcast the entity dim (dictionary-sized, collected dims); the
    default lets the planner pick (the 100-TB path, nothing
    dictionary-shaped ever reaches the driver)."""
    dim = entity_dim.select("page_title", "TYPE", "QID")
    out = mention_triples(mentions, dim, broadcast_dim=broadcast_dim)
    out = out.unionByName(entity_triples(dim))
    out = out.unionByName(redirect_triples_frame(redirect_dim))
    return out.select("subj", "pred", "obj", "n_occurrences", "src_url")


def build_triples(
    spark,
    mentions: DataFrame,
    entity_types: dict[str, str],
    redirect_targets: dict[str, str],
) -> DataFrame:
    """``build_triples_from_frames`` over collected dims."""
    return build_triples_from_frames(
        mentions, entity_dim_df(spark, entity_types),
        _dict_frame(spark, redirect_targets, "alias", "page_title"),
        broadcast_dim=True,
    )
