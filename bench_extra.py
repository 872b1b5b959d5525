#!/usr/bin/env python
"""Stage-level profiling harness for the optimization round (guide §1.4):
times individual pipeline stages against a noop sink so the computation,
not the sink or the driver collect, is measured. Separate from bench.py
(FROZEN for driver measurement) per the round-6 rules.

Usage:
    python bench_extra.py [stage ...]      # default: all stages

Prints one JSON line per stage: {"stage": ..., "secs": ..., "extra": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def npart(df) -> int:
    return df.select(F.spark_partition_id().alias("p")).distinct().count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    only = set(sys.argv[1:])

    from kbspark.session import get_spark, reset_memos

    spark = get_spark(app="kbspark-bench-extra", cpus=cpus,
                      shuffle_partitions=cpus)
    sc = spark.sparkContext

    # JVM + Arrow warmup (same as bench.py)
    spark.range(1000).selectExpr("sum(id)").collect()

    def _noop_pd(batches):
        for pdf in batches:
            yield pdf

    spark.range(2048).selectExpr("id").mapInPandas(
        _noop_pd, schema="id long"
    ).count()

    out: list[dict] = []

    def rec(stage: str, secs: float, **extra) -> None:
        row = {"stage": stage, "secs": secs, **extra}
        out.append(row)
        print(json.dumps(row), flush=True)

    def want(stage: str) -> bool:
        return not only or any(stage.startswith(o) for o in only)

    from kbspark.corpus import (
        dims_from_documents,
        pages_from_documents,
        words_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    if want("scan"):
        rec("scan_partitions", 0.0,
            documents=npart(docs),
            lineitem=npart(spark.read.parquet(f"{sf_dir}/lineitem.parquet")),
            events=npart(spark.read.parquet(f"{sf_dir}/events.parquet")),
            embeddings=npart(
                spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            ))

    if want("words"):
        reset_memos()
        sc.setJobDescription("words: tokenize + persist")
        t0 = time.time()
        wdf = words_from_documents(spark, sf_dir)
        wdf.count()
        rec("words_materialize", round(time.time() - t0, 3),
            parts=npart(wdf))

    if want("dims"):
        reset_memos()
        sc.setJobDescription("dims: vocab distinct + collect")
        t0 = time.time()
        dims_from_documents(spark, sf_dir)
        rec("dims_collect", round(time.time() - t0, 3))
        # second call in the same process: the delta vs the first call
        # is JIT/codegen
        t0 = time.time()
        dims_from_documents(spark, sf_dir)
        rec("dims_collect_2nd", round(time.time() - t0, 3))

    if want("pages"):
        reset_memos()
        sc.setJobDescription("pages: markup derivation")
        pages = pages_from_documents(spark, sf_dir)
        rec("pages_noop", noop(pages), parts=npart(pages))

    if want("annotate"):
        reset_memos()
        from kbspark.extract import annotate_stage, mention_stage

        ents, reds = dims_from_documents(spark, sf_dir)
        pages = pages_from_documents(spark, sf_dir)
        sc.setJobDescription("annotate_stage")
        rec("annotate_noop", noop(
            annotate_stage(pages, spark, ents, reds)
        ))
        sc.setJobDescription("mention_stage")
        rec("mention_noop", noop(
            mention_stage(pages, spark, ents, reds)
        ))

    if want("spans"):
        reset_memos()
        from kbspark.extract import annotate_stage
        from kbspark.linking import mention_spans_sql

        ents, reds = dims_from_documents(spark, sf_dir)
        pages = pages_from_documents(spark, sf_dir)
        tagged = annotate_stage(pages, spark, ents, reds).persist()
        tagged.count()
        sc.setJobDescription("mention_spans_sql over persisted tagged")
        rec("spans_sql_noop", noop(mention_spans_sql(tagged)))
        rec("spans_sql_noop2", noop(mention_spans_sql(tagged)))
        tagged.unpersist()

    if want("simhash"):
        reset_memos()
        from kbspark.textops import (
            simhash64,
            simhash_block_table,
            simhash_near_dups,
        )

        words = words_from_documents(spark, sf_dir)
        sc.setJobDescription("simhash: signature agg only")
        rec("simhash_sig_noop", noop(simhash64(docs, words=words)))
        sig = simhash64(docs, words=words)
        blocks = simhash_block_table(sig, 8).persist()
        blocks.count()
        sc.setJobDescription("simhash: block join + verify (sig persisted)")
        t0 = time.time()
        simhash_near_dups(docs, max_hamming=7, n_blocks=8,
                          blocks=blocks).count()
        rec("simhash_join_verify", round(time.time() - t0, 3))
        blocks.unpersist()
        reset_memos()
        sc.setJobDescription("simhash: full cold")
        t0 = time.time()
        simhash_near_dups(
            docs, max_hamming=7, n_blocks=8,
            words=words_from_documents(spark, sf_dir),
        ).count()
        rec("simhash_full_cold", round(time.time() - t0, 3))

    if want("lsh"):
        reset_memos()
        from kbspark.textops import (
            lsh_band_table,
            lsh_near_dup_pairs,
            shingles_from_words,
        )

        words = words_from_documents(spark, sf_dir)
        sh = shingles_from_words(words, n=3).persist()
        sc.setJobDescription("lsh: shingles only")
        t0 = time.time()
        sh.count()
        rec("lsh_shingles", round(time.time() - t0, 3))
        sc.setJobDescription("lsh: band table (shingles persisted)")
        rec("lsh_bands_noop", noop(
            lsh_band_table(n_hashes=8, n_bands=2, shingles_df=sh)
        ))
        sh.unpersist()
        reset_memos()
        sc.setJobDescription("lsh: full cold")
        t0 = time.time()
        lsh_near_dup_pairs(
            docs, n_hashes=8, n_bands=2, threshold=0.5,
            words=words_from_documents(spark, sf_dir),
        ).count()
        rec("lsh_full_cold", round(time.time() - t0, 3))

    if want("el"):
        reset_memos()
        from kbspark.jobs import entity_linking_job

        sc.setJobDescription("el: full cold (dict)")
        t0 = time.time()
        entity_linking_job(spark, sf_dir).count()
        rec("el_full_cold", round(time.time() - t0, 3))

    if want("ws_ab"):
        # VERDICT r05 #3: settle frames-vs-dict EL at the 60k-doc
        # working set with a strictly interleaved A/B/A/B protocol in
        # ONE sentinel-bracketed window (the round-4/5 claims came from
        # separate windows and disagreed by the noise envelope).
        from kbspark.corpus import pages_from_documents
        from kbspark.jobs import entity_linking_job

        def sentinel() -> float:
            t0 = time.time()
            spark.range(100_000_000).selectExpr(
                "sum(hash(id)) as s"
            ).collect()
            return round(time.time() - t0, 3)

        pages = pages_from_documents(spark, sf_dir)
        from pyspark.sql import functions as F

        el_pages = (
            pages.crossJoin(
                spark.range(12).withColumnRenamed("id", "_rep")
            )
            .withColumn(
                "url",
                F.concat_ws("#", "url", F.col("_rep").cast("string")),
            )
            .drop("_rep")
            .repartition(cpus * 4)
            .persist()
        )
        n_docs = el_pages.count()
        sents = [sentinel()]
        pairs: dict[str, list[float]] = {"dict": [], "frames": []}
        for _ in range(3):
            for label, cap in (("dict", None), ("frames", 1)):
                reset_memos()
                t0 = time.time()
                sc.setJobDescription(f"ws_ab el {label}")
                entity_linking_job(
                    spark, sf_dir, dim_collect_cap=cap, pages_df=el_pages
                ).count()
                pairs[label].append(round(time.time() - t0, 3))
                sents.append(sentinel())
        el_pages.unpersist()
        rec("ws_el_ab", 0.0, docs=n_docs, dict=pairs["dict"],
            frames=pairs["frames"], sentinels=sents,
            noise_index=round(max(sents) / min(sents), 2))

    if want("resume"):
        # VERDICT r05 #7: one kill/rerun cycle of lineage.run_stage over
        # the 200k-doc replicated corpus — marker overhead + resume cost
        # at working-set scale (the kill/rerun tests pin VALUE identity
        # at toy scale; this records the COST shape).
        import shutil
        import tempfile

        from kbspark.catalog import Catalog
        from kbspark.corpus import (
            dims_from_documents,
            pages_from_documents,
        )
        from kbspark.extract import mention_stage
        from kbspark.lineage import run_stage
        from pyspark.sql import functions as F

        reset_memos()
        ents, reds = dims_from_documents(spark, sf_dir)
        pages = pages_from_documents(spark, sf_dir)
        rep = (
            pages.crossJoin(
                spark.range(40).withColumnRenamed("id", "_rep")
            )
            .withColumn(
                "url",
                F.concat_ws("#", "url", F.col("_rep").cast("string")),
            )
            .drop("_rep")
            .repartition(cpus * 4)
            .persist()
        )
        n_docs = rep.count()

        def transform(df):
            return mention_stage(df, spark, ents, reds)

        wh = tempfile.mkdtemp(prefix="kbspark_resume_")
        try:
            n_buckets, per_commit = 16, 4
            sc.setJobDescription("resume: cold full run_stage")
            t0 = time.time()
            run_stage(Catalog(spark, wh + "/cold"), "mentions", rep,
                      transform, "out", n_buckets=n_buckets,
                      buckets_per_commit=per_commit)
            cold = round(time.time() - t0, 3)
            # partial run: commit only the first batch, then "crash"
            cat2 = Catalog(spark, wh + "/resume")
            sc.setJobDescription("resume: partial run (killed after 1 commit)")
            t0 = time.time()
            try:
                run_stage(cat2, "mentions", rep, transform, "out",
                          n_buckets=n_buckets,
                          buckets_per_commit=per_commit,
                          fail_after_commits=1)
            except RuntimeError:
                pass  # the injected kill
            partial = round(time.time() - t0, 3)
            sc.setJobDescription("resume: rerun after kill")
            t0 = time.time()
            run_stage(cat2, "mentions", rep, transform, "out",
                      n_buckets=n_buckets, buckets_per_commit=per_commit)
            resume = round(time.time() - t0, 3)
            rows_cold = Catalog(spark, wh + "/cold").read("out").count()
            rows_res = cat2.read("out").count()
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        rep.unpersist()
        rec("resume_200k", 0.0, docs=n_docs, cold_secs=cold,
            partial_secs=partial, resume_secs=resume,
            overhead_pct=round(
                100 * (partial + resume - cold) / cold, 1
            ),
            rows_match=(rows_cold == rows_res))

    if want("triples"):
        reset_memos()
        from kbspark.jobs import flagship_triples

        sc.setJobDescription("triples: full cold (dict)")
        t0 = time.time()
        flagship_triples(spark, sf_dir).count()
        rec("triples_full_cold", round(time.time() - t0, 3))

    sc.setJobDescription(None)
    print(json.dumps({"stages": out, "sf_dir": sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()
