#!/usr/bin/env python
"""Dump .explain('formatted') for every headline bench query to
plans/<tag>/<query>_<suffix>.txt (judge-checkable plan evidence).

Expression IDs (``#123``) are written as ``#``, so two dumps of the same
plan are byte-equal and two trees' dumps can be compared with ``cmp``.

Usage: python scripts/dump_plans.py <tag> <suffix> [query ...]
e.g.   python scripts/dump_plans.py r06 before
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))

    from kbspark.session import get_spark, reset_memos

    spark = get_spark(app="kbspark-plans", cpus=cpus, shuffle_partitions=cpus)

    import __spark_entry__ as entry_mod
    from kbspark.corpus import words_from_documents
    from kbspark.jobs import entity_linking_job, tagged_table
    from kbspark.textops import lsh_near_dup_pairs, simhash_near_dups

    queries = dict(entry_mod.queries())
    queries["kg_el_frames"] = lambda sp, sf: entity_linking_job(
        sp, sf, dim_collect_cap=1
    )
    queries["kg_tagged_frames"] = lambda sp, sf: tagged_table(
        sp, sf, dim_collect_cap=1
    )
    queries["t_lsh_near_dup_pairs"] = lambda sp, sf: lsh_near_dup_pairs(
        sp.read.parquet(f"{sf}/documents.parquet"), n_hashes=8, n_bands=2,
        threshold=0.5, words=words_from_documents(sp, sf),
    )
    queries["t_simhash_near_dups"] = lambda sp, sf: simhash_near_dups(
        sp.read.parquet(f"{sf}/documents.parquet"), max_hamming=7,
        n_blocks=8, words=words_from_documents(sp, sf),
    )

    headline = [
        "kg_triples", "kg_triples_dimframes", "kg_entity_linking",
        "kg_el_frames", "kg_tagged_stats", "kg_tagged_frames",
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "a2_apriori_salted",
        "a1_graph_closure", "t_lsh_near_dup_pairs", "t_simhash_near_dups",
        "s_knn_bruteforce", "w_windows",
    ]
    outdir = os.path.join(_REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in headline:
        if only and name not in only:
            continue
        reset_memos()
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan = re.sub(r"#\d+", "#", plan)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
