#!/usr/bin/env python
"""Headline benchmark: runs the flagship KG pipeline + representative
operator queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Per-query time is wall clock around a full materialization (count of the
final DataFrame — forces the whole plan, no driver collect of payloads).

Measurement protocol (VERDICT r03 #1): every tracked persist is released
(``session.reset_memos``) BEFORE each timed run, so best-of-N separates
co-tenant noise from plan regressions without aliasing warm caches into
the headline — the ``queries`` numbers are first-run-comparable across
rounds. Warm-session times (the previous run's persisted tables still
cached) are reported separately as ``queries_warm`` for the queries that
persist their dims, tagged table or token table.

Both dim strategies are benched (VERDICT r03 #2): the dict path
(collected broadcast dims — the sub-cap regime) AND the frame-dim path
(``dim_collect_cap=1`` forces DataFrame dims + relational J5 joins — the
100-TB regime where the vocabulary itself is big data).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "kg_triples",
    "kg_triples_dimframes",   # 100-TB frame-dim path, same oracle as kg_triples
    "kg_entity_linking",
    "kg_el_frames",           # EL on frame dims (dim_collect_cap=1)
    "kg_tagged_stats",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "a2_apriori_salted",
    "a1_graph_closure",
    "t_lsh_near_dup_pairs",
    "t_simhash_near_dups",
    "s_knn_bruteforce",
    "w_windows",
]

#: queries whose wall-clock includes a persisted derivation (tagged table,
#: dims, shared token scan) — these get an extra warm-session measurement.
WARM_QUERIES = [
    "kg_triples",
    "kg_triples_dimframes",
    "kg_entity_linking",
    "kg_el_frames",
    "kg_tagged_stats",
    "t_lsh_near_dup_pairs",
    "t_simhash_near_dups",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))

    from kbspark.session import get_spark, reset_memos

    spark = get_spark(app="kbspark-bench", cpus=cpus, shuffle_partitions=cpus)

    import __spark_entry__ as entry_mod
    from kbspark.jobs import entity_linking_job

    queries = dict(entry_mod.queries())
    # EL on the frame-dim path: not a separate contract entry (surface is
    # pinned at 50; value parity of the frame path is driver-checked via
    # kg_triples_dimframes) but its throughput must be measured.
    queries["kg_el_frames"] = lambda sp, sf: entity_linking_job(
        sp, sf, dim_collect_cap=1
    )

    # the t_lsh / t_simhash CONTRACT entries are correctness compounds
    # (plain + capped rerun + dropped-bucket count); the headline times
    # the OPERATORS, comparable with earlier rounds
    from kbspark.corpus import words_from_documents
    from kbspark.textops import lsh_near_dup_pairs, simhash_near_dups

    queries["t_lsh_near_dup_pairs"] = lambda sp, sf: lsh_near_dup_pairs(
        sp.read.parquet(f"{sf}/documents.parquet"), n_hashes=8, n_bands=2,
        threshold=0.5, words=words_from_documents(sp, sf),
    )
    queries["t_simhash_near_dups"] = lambda sp, sf: simhash_near_dups(
        sp.read.parquet(f"{sf}/documents.parquet"), max_hamming=7,
        n_blocks=8, words=words_from_documents(sp, sf),
    )

    # warm the JVM AND the Arrow/python-worker path once so per-query
    # numbers measure the queries, not interpreter/worker startup
    spark.range(1000).selectExpr("sum(id)").collect()

    def _noop(batches):
        for pdf in batches:
            yield pdf

    spark.range(2048).selectExpr("id").mapInPandas(
        _noop, schema="id long"
    ).count()

    # noise sentinel (VERDICT r04 #2): a fixed JVM-side op (hash+sum over
    # 100M longs — CPU + memory-bus bound like the real queries, zero
    # python workers; sized so its own run-to-run variance is small
    # against scheduler jitter) timed before every query and once at the
    # end. The
    # per-query noise_index = max(bracketing sentinels) / fastest sentinel
    # of this bench run; cross-round throughput drift that tracks the
    # sentinel is co-tenant noise, drift that doesn't is a plan change —
    # machine-adjudicable from the JSON alone.
    all_sentinels: list[float] = []

    def sentinel() -> float:
        t0 = time.time()
        spark.range(100_000_000).selectExpr("sum(hash(id)) as s").collect()
        s = round(time.time() - t0, 3)
        # every sentinel of the whole bench feeds the denominator: a
        # wave covering one block must not make a later block's index
        # read clean (round-5 review — s_min was headline-only)
        all_sentinels.append(s)
        return s

    sentinel()
    all_sentinels.clear()  # throwaway: JIT + codegen for the sentinel itself

    # best-of-N per query with persists released before EVERY run: this box
    # has multi-minute co-tenant noise waves (BENCH/BASELINE.md); the min
    # of N cold runs separates plan regressions from noise, and the reset
    # keeps each run a genuine first run (no warm-cache aliasing).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    counts: dict[str, int] = {}
    sentinels: list[float] = []
    for name in HEADLINE:
        sentinels.append(sentinel())
        runs = []
        for _ in range(n_runs):
            reset_memos()
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            counts[name] = df.count()
            runs.append(round(time.time() - t0, 3))
        all_runs[name] = runs
        timings[name] = min(runs)
        if name in WARM_QUERIES:
            # the last cold run's persists are still cached — steady-state time,
            # best-of-N like the cold number (r04 nit: a single warm run
            # inherited full co-tenant variance)
            wruns = []
            for _ in range(n_runs):
                t0 = time.time()
                queries[name](spark, sf_dir).count()
                wruns.append(round(time.time() - t0, 3))
            warm[name] = min(wruns)
    sentinels.append(sentinel())

    total = round(sum(timings.values()), 3)

    # kg_entity_linking sub-stage timings (VERDICT r01 #10): where does
    # the EL wall-clock go — annotate+spans, alias mining, or scoring?
    from kbspark.corpus import (
        dims_from_documents as _dims,
        pages_from_documents as _pages,
    )
    from kbspark.extract import annotate_stage as _annotate
    from kbspark.linking import (
        build_alias_dict as _dict,
        entity_context_profiles as _profiles,
        link_entities as _link,
        mention_spans_sql as _spans,
        mine_anchor_aliases as _mine,
    )
    from kbspark.triples import entity_dim_df as _dim_df

    reset_memos()
    el_stages: dict[str, float] = {}
    el_sentinel_before = sentinel()
    t0 = time.time()
    _ents, _reds = _dims(spark, sf_dir)
    tagged = _annotate(_pages(spark, sf_dir), spark, _ents, _reds)
    spans = _spans(tagged).persist()
    spans.count()
    el_stages["spans"] = round(time.time() - t0, 3)
    t0 = time.time()
    dim = _dim_df(spark, _ents)
    mined = _mine(spans, dim, target_col="gt", max_targets_per_surface=8)
    mined.count()
    el_stages["mine"] = round(time.time() - t0, 3)
    # dictionary stage: profiles + the per-alias candidate aggregation,
    # materialized once (the reference writes its dictionary before EL;
    # r04 charged this derivation to "link", hiding where the time went)
    t0 = time.time()
    prof = _profiles(spans)
    dict_df = _dict(mined, profiles=prof).persist()
    dict_df.count()
    el_stages["dict"] = round(time.time() - t0, 3)
    # link stage: the pure probe — broadcast join + in-row score/rank/
    # sentinel, zero post-join exchanges
    t0 = time.time()
    _link(spans, mined, profiles=prof, aliases_hint="auto",
          dict_df=dict_df).count()
    el_stages["link"] = round(time.time() - t0, 3)
    el_sentinel_after = sentinel()
    dict_df.unpersist()
    spans.unpersist()

    # Pipeline throughput on a corpus large enough to amortize fixed
    # costs (the sf0.1 documents table is only 5k rows): deterministic
    # 40x replication of the derived pages, then the full extract->triple
    # pipeline. Labeled separately from the headline query timings.
    from pyspark.sql import functions as F

    from kbspark.corpus import dims_from_documents, pages_from_documents
    from kbspark.extract import mention_stage
    from kbspark.triples import build_triples

    entity_types, redirect_targets = dims_from_documents(spark, sf_dir)
    pages = pages_from_documents(spark, sf_dir)

    def replicate(k: int):
        """k-fold page replication with disambiguated urls, persisted —
        shared by the pipeline-throughput and working-set corpora so the
        two can't silently diverge in shape (round-5 review)."""
        return (
            pages.crossJoin(spark.range(k).withColumnRenamed("id", "_rep"))
            .withColumn(
                "url", F.concat_ws("#", "url", F.col("_rep").cast("string"))
            )
            .drop("_rep")
            .repartition(cpus * 4)
            .persist()
        )

    replicated = replicate(40)
    n_docs = replicated.count()  # materialize the input before the clock
    pipe_sentinel_before = sentinel()
    t0 = time.time()
    mentions = mention_stage(replicated, spark, entity_types, redirect_targets)
    n_triples = build_triples(
        spark, mentions, entity_types, redirect_targets
    ).count()
    kg_secs = time.time() - t0
    pipe_sentinel_after = sentinel()

    # Working-set stress for the 100-TB frame-dim path (VERDICT r04 #5):
    # replicated corpora through flagship triples AND full EL on BOTH
    # dim strategies (dict vs dim_collect_cap=1 frames) — frame-vs-dict
    # throughput measured where the working set, not stage fixed
    # overhead, dominates. Triples run at the full 200k-doc corpus; EL
    # (spans + profiles + probe over every page — ~8x the per-doc cost
    # of triples) runs at a 60k-doc replication so the block fits the
    # bench budget while still amortizing the fixed dims 12x. One run
    # each; sentinels bracket every run for noise adjudication.
    from kbspark.jobs import flagship_triples

    working_set: dict[str, float] = {}
    ws_sentinels = [sentinel()]
    for label, cap in (("dict", None), ("frames", 1)):
        reset_memos()
        t0 = time.time()
        flagship_triples(spark, sf_dir, dim_collect_cap=cap,
                         pages_df=replicated).count()
        working_set[f"triples_{label}_secs"] = round(time.time() - t0, 3)
        working_set[f"triples_{label}_docs_per_sec"] = round(
            n_docs / working_set[f"triples_{label}_secs"], 1
        )
        ws_sentinels.append(sentinel())
    replicated.unpersist()
    el_pages = replicate(12)
    n_el_docs = el_pages.count()
    for label, cap in (("dict", None), ("frames", 1)):
        reset_memos()
        t0 = time.time()
        entity_linking_job(spark, sf_dir, dim_collect_cap=cap,
                           pages_df=el_pages).count()
        working_set[f"el_{label}_secs"] = round(time.time() - t0, 3)
        working_set[f"el_{label}_docs_per_sec"] = round(
            n_el_docs / working_set[f"el_{label}_secs"], 1
        )
        ws_sentinels.append(sentinel())
    working_set["el_docs"] = n_el_docs
    el_pages.unpersist()

    # all measurement done — the global fastest sentinel is now known;
    # compute every noise index against it
    s_min = min(all_sentinels)
    # MAX of the two bracketing sentinels, not the mean: a query that
    # starts inside a wave which recedes before the trailing sentinel
    # would otherwise read half-clean (observed: a 7x-inflated run with
    # a mean-index of 2.5 while the leading sentinel showed 4.9x)
    noise_index = {
        name: round(max(sentinels[i], sentinels[i + 1]) / s_min, 2)
        for i, name in enumerate(HEADLINE)
    }
    el_stages["noise_index"] = round(
        max(el_sentinel_before, el_sentinel_after) / s_min, 2
    )

    sf = sf_dir.rstrip("/").split("sf")[-1]
    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "query_runs": all_runs,
        "bench_runs": n_runs,
        "bench_protocol": "persists released before every run; min of N "
                          "cold runs (first-run-comparable); queries_warm = "
                          "min of N runs with persists warm; noise_index = "
                          "max(bracketing sentinel times)/min sentinel — "
                          "~1.0 clean window, >1.3 co-tenant wave",
        "noise_index": noise_index,
        "sentinel_secs": sentinels,
        "sentinel_all": all_sentinels,
        "sentinel_min": s_min,
        "el_stages": el_stages,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows": counts,
        "pipeline_docs": n_docs,
        "pipeline_triples": n_triples,
        "pipeline_secs": round(kg_secs, 3),
        "docs_per_sec": round(n_docs / kg_secs, 1) if kg_secs else None,
        "triples_per_sec": round(n_triples / kg_secs, 1) if kg_secs else None,
        "pipeline_noise_index": round(
            max(pipe_sentinel_before, pipe_sentinel_after) / s_min, 2
        ),
        "working_set_200k": working_set,
        "working_set_noise_index": round(max(ws_sentinels) / s_min, 2),
        "cpus": cpus,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
