"""End-to-end pipeline entry points (spark-submit-able; SURVEY.md §3).

``flagship_triples`` is the driver-contract flagship (__spark_entry__.entry):
documents.parquet → markup pages → E1 clean + E2 mention extraction with
broadcast dictionary resolution → canonicalized (subj, pred, obj) triples.
One narrow Arrow-batched stage plus a single pre-aggregated dedup shuffle —
the same dataflow shape as the reference's tag-wiki-entities2sqlite trace
(SURVEY.md §3.1) re-expressed Spark-first.
"""

from __future__ import annotations

import os
import sys

# spark-submit runs this file as a script: make the package importable
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PKG_PARENT not in sys.path:
    sys.path.insert(0, _PKG_PARENT)

from pyspark.sql import DataFrame, SparkSession

from kbspark.corpus import (
    Dims,
    dim_frames_from_documents,
    pages_from_documents,
    try_dims_from_documents,
)
from kbspark.session import persist_tracked, pin_session_conf
from kbspark.triples import build_triples_from_frames


def flagship_triples(spark: SparkSession, sf_dir: str,
                     dim_collect_cap: int | None = None,
                     pages_df: DataFrame | None = None) -> DataFrame:
    """documents → pages → mentions → triples. The dims follow
    ``corpus.Dims`` (size-gated by ``dim_collect_cap``).

    ``pages_df`` overrides the corpus (dims still derive from ``sf_dir``)
    — the working-set stress harness feeds a replicated corpus through
    the same code path (VERDICT r04 #5)."""
    pin_session_conf(spark)
    pages = pages_df if pages_df is not None else pages_from_documents(
        spark, sf_dir
    )
    dims = _job_dims(spark, sf_dir, dim_collect_cap)
    return build_triples_from_frames(
        dims.mentions(pages), dims.entity, dims.redirect,
        broadcast_dim=dims.broadcast,
    )


def _job_dims(spark: SparkSession, sf_dir: str,
              dim_collect_cap: int | None) -> Dims:
    """A job's dims, derived once and passed down: collected when the
    vocabulary fits under the cap (``try_dims_from_documents``), else
    DataFrames (``dim_frames_from_documents``)."""
    kw = {} if dim_collect_cap is None else {"max_rows": dim_collect_cap}
    dicts = try_dims_from_documents(spark, sf_dir, **kw)
    if dicts is None:
        return Dims(*dim_frames_from_documents(spark, sf_dir))
    return Dims.collected(spark, *dicts)


def tagged_table(spark: SparkSession, sf_dir: str,
                 dim_collect_cap: int | None = None,
                 pages_df: DataFrame | None = None) -> DataFrame:
    """documents → pages → per-sentence BIO-tagged table (the reference's
    `tagged` table with typed nested arrays, ner.py:196-197). The dims
    follow ``corpus.Dims`` (size-gated by ``dim_collect_cap``).

    ``pages_df`` overrides the corpus (dims still derive from ``sf_dir``)."""
    pin_session_conf(spark)
    dims = _job_dims(spark, sf_dir, dim_collect_cap)
    return _tagged_table(spark, sf_dir, dims, pages_df)


def _tagged_table(spark: SparkSession, sf_dir: str, dims: Dims,
                  pages_df: DataFrame | None) -> DataFrame:
    """``tagged_table`` over dims the caller already resolved
    (``_job_dims``). The tagged table of the corpus itself is persisted
    through ``persist_tracked`` — like the reference's table, written
    once (ner.py:267-288) and read by every consumer; an overridden
    ``pages_df`` is left to its caller."""
    # the scan is spread only for collected dims. The frames chain is
    # many small stages, and wide fan-out costs more in scheduling than
    # its python passes gain (see pages_from_documents docstring); its
    # tokenize pass inherits the cleaned side's partitioning through the
    # broadcast maps join (annotate_stage_frames)
    pages = pages_df if pages_df is not None else pages_from_documents(
        spark, sf_dir, spread=dims.broadcast
    )
    tagged = dims.tagged(pages)
    if pages_df is not None:
        return tagged
    return persist_tracked(tagged)


def entity_linking_job(spark: SparkSession, sf_dir: str,
                       dim_collect_cap: int | None = None,
                       pages_df: DataFrame | None = None) -> DataFrame:
    """Full native EL pipeline (the reference's batchel-wp trace, §3.3,
    minus the HTTP boundaries): tagged table → mention spans (E9) →
    alias dictionary (titles + redirects + corpus-mined anchor texts,
    E8) → scored + ranked candidates with sentinel rows (E10). The dims
    follow ``corpus.Dims`` (size-gated by ``dim_collect_cap``)."""
    from pyspark.sql import functions as F

    from kbspark.linking import (
        entity_context_profiles,
        link_entities,
        mention_spans_sql,
        mine_anchor_aliases,
    )
    from kbspark.triples import redirect_alias_frame

    pin_session_conf(spark)
    dims = _job_dims(spark, sf_dir, dim_collect_cap)
    tagged = _tagged_table(spark, sf_dir, dims, pages_df)
    # one full-corpus extraction pass: spans feed BOTH candidate mining
    # (surface->gt pairs) and linking — no second mention_stage scan
    # JVM span extraction (mention_spans_sql): value-identical to the
    # pandas version (parity-tested) but never ships the nested tagged
    # table through Arrow — measured 1.6-1.7x faster at a 60k-doc
    # working set, and it removes EL's second python stage entirely
    spans = persist_tracked(mention_spans_sql(tagged))

    red = redirect_alias_frame(
        spark, dims.entity, redirect_dim=dims.redirect, proba=0.0
    )
    # mined dictionary is corpus-scaling: cap targets per surface and let
    # the planner pick broadcast-vs-shuffle for the EL join (VERDICT #6)
    mined = mine_anchor_aliases(
        spans, dims.entity, target_col="gt", max_targets_per_surface=8,
        dim_hint=dims.hint,
    )
    own = dims.entity.select(
        F.col("page_title").alias("alias"), "page_title", "QID", "TYPE",
        F.lit(0.0).alias("proba"),
    )
    aliases = (
        own.unionByName(red)
        .unionByName(mined)
        .groupBy("alias", "page_title", "QID", "TYPE")
        .agg(F.max("proba").alias("proba"))
        .withColumn("wikidata", F.col("QID"))
    )
    profiles = entity_context_profiles(spans)
    return link_entities(spans, aliases, profiles=profiles,
                         aliases_hint="auto")


def linking_quality_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P/R of rank-1 links vs the corpus ground truth — the BASELINE.json
    P/R >= 0.95 gate, measured end-to-end."""
    from kbspark.linking import linking_quality

    return linking_quality(entity_linking_job(spark, sf_dir))


def dedup_job(spark: SparkSession, sf_dir: str, method: str = "minhash-lsh",
              threshold: float = 0.5, max_bucket: int = 10_000,
              warehouse: str | None = None,
              clusters: bool = False) -> DataFrame:
    """Training-pipeline dedup over the documents table: one entry point
    per family (exact fingerprint groups, MinHash-LSH pairs, SimHash
    pairs, posting-list n-gram Jaccard pairs), each with its boilerplate
    cap wired. With ``warehouse`` the pair/group table is committed
    through the atomic-manifest catalog like every other stage output.

    ``clusters``: resolve the pair table into duplicate CLUSTERS
    (connected components, ``textops.dup_clusters``) and return
    (doc_id, cluster_id) with cluster_id = min doc_id — the survivor
    selection a pair list alone can't express (a-b, b-c must keep ONE
    of three)."""
    from kbspark import textops
    from pyspark.sql import functions as F

    pin_session_conf(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if method == "exact":
        fp = textops.content_fingerprint("text")
        out = (
            docs.select("doc_id", fp.alias("fp"))
            .groupBy("fp")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
                 F.count("*").alias("n"))
            .filter(F.col("n") > 1)
        )
    elif method == "minhash-lsh":
        out = textops.lsh_near_dup_pairs(
            docs, threshold=threshold, max_bucket=max_bucket
        )
    elif method == "simhash":
        out = textops.simhash_near_dups(docs, max_bucket=max_bucket)
    elif method == "ngram-jaccard":
        out = textops.ngram_jaccard_pairs(
            docs, threshold=threshold, max_postings=max_bucket
        )
    else:  # pragma: no cover - argparse restricts choices
        raise ValueError(f"unknown dedup method: {method}")
    if clusters:
        if method == "exact":
            raise ValueError(
                "clusters=True needs a PAIR table; method='exact' already "
                "groups by fingerprint — use its keep_doc_id directly"
            )
        out = textops.dup_clusters(out)
    if warehouse:
        from kbspark.catalog import Catalog

        Catalog(spark, warehouse).overwrite(f"dedup_{method}", out)
    return out


def main(argv: list[str] | None = None) -> None:
    """spark-submit entry point (north rule deployment path):

        spark-submit --py-files kbspark.zip -m ... kbspark/jobs.py \\
            kb-build --sf-dir /root/testdata/sf0.01 --warehouse /tmp/wh

    Subcommands: kb-build (four graph tables with lineage/resume),
    el (entity-linking table), el-quality (P/R row)."""
    import argparse
    import json

    ap = argparse.ArgumentParser(prog="kbspark-jobs")
    ap.add_argument(
        "job",
        choices=["kb-build", "el", "el-quality", "triples", "dedup"],
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--warehouse", default="/tmp/kbspark_warehouse")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--method",
        choices=["exact", "minhash-lsh", "simhash", "ngram-jaccard"],
        default="minhash-lsh",
        help="dedup family for the dedup job",
    )
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--max-bucket", type=int, default=10_000,
                    help="boilerplate bucket/posting cap (scale knob)")
    ap.add_argument("--clusters", action="store_true",
                    help="resolve dedup pairs into connected-component "
                         "clusters (doc_id, cluster_id)")
    args = ap.parse_args(argv)

    from kbspark.session import get_spark

    spark = get_spark(app=f"kbspark-{args.job}", cpus=args.cpus)
    if args.job == "kb-build":
        from kbspark.kb import build_knowledge_base

        res = build_knowledge_base(spark, args.sf_dir, args.warehouse)
        print(json.dumps({"tables": res["tables"], "stage": res["stage"]}))
    elif args.job == "el":
        df = entity_linking_job(spark, args.sf_dir)
        print(json.dumps({"rows": df.count()}))
    elif args.job == "el-quality":
        row = linking_quality_job(spark, args.sf_dir).collect()[0]
        print(json.dumps(row.asDict()))
    elif args.job == "triples":
        df = flagship_triples(spark, args.sf_dir)
        print(json.dumps({"rows": df.count()}))
    elif args.job == "dedup":
        df = dedup_job(
            spark, args.sf_dir, method=args.method,
            threshold=args.threshold, max_bucket=args.max_bucket,
            warehouse=args.warehouse, clusters=args.clusters,
        )
        print(json.dumps({"method": args.method, "rows": df.count()}))


if __name__ == "__main__":
    main()
