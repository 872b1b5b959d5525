"""End-to-end KB materialization: four graph tables, resume-after-kill
value-identity, and cross-check of the triples table against the
flagship query."""

import pytest
from pyspark.sql import functions as F

from kbspark.catalog import Catalog
from kbspark.kb import build_knowledge_base


def test_kb_build_tables_and_resume(spark, sf001_dir, tmp_path):
    wh_a = str(tmp_path / "a")
    res = build_knowledge_base(spark, sf001_dir, wh_a, n_buckets=8)
    assert set(res["tables"]) == {"entities", "aliases", "sitelinks", "triples"}
    assert all(v > 0 for v in res["tables"].values())

    cat = Catalog(spark, wh_a)
    triples = cat.read("triples")
    # same triple multiset as the flagship pipeline
    from kbspark.jobs import flagship_triples

    expected = flagship_triples(spark, sf001_dir)
    a = sorted(map(tuple, triples.select("subj", "pred", "obj",
                                         "n_occurrences").collect()))
    b = sorted(map(tuple, expected.select("subj", "pred", "obj",
                                          "n_occurrences").collect()))
    assert a == b

    # entities carry a-priori probabilities summing to ~1 over mentions
    ents = cat.read("entities").toPandas()
    assert ents.proba.between(0, 1).all()
    assert abs(ents.proba.sum() - 1.0) < 1e-6

    # kill mid-run, then resume to an identical triples table
    wh_b = str(tmp_path / "b")
    with pytest.raises(RuntimeError, match="fault injection"):
        build_knowledge_base(spark, sf001_dir, wh_b, n_buckets=8,
                             fail_after_commits=1)
    res2 = build_knowledge_base(spark, sf001_dir, wh_b, n_buckets=8)
    assert res2["stage"]["skipped"], "resume should skip completed buckets"
    cat_b = Catalog(spark, wh_b)
    c = sorted(map(tuple, cat_b.read("triples").select(
        "subj", "pred", "obj", "n_occurrences").collect()))
    assert c == a

    # re-run on the complete warehouse: no new triple work
    res3 = build_knowledge_base(spark, sf001_dir, wh_a, n_buckets=8)
    assert res3["stage"]["ran"] == []


def test_kb_build_frame_path_resume(spark, sf001_dir, tmp_path):
    """Exact resume on the 100-TB frame-dim path (VERDICT r03 #7):
    ``dim_collect_cap=0`` forces DataFrame dims end to end — kill after
    the first bucket commit, resume, and the final triples table must be
    value-identical to the dict path's."""
    wh_dict = str(tmp_path / "dict")
    build_knowledge_base(spark, sf001_dir, wh_dict, n_buckets=8)
    cols = ["subj", "pred", "obj", "n_occurrences"]
    expected = sorted(
        map(tuple, Catalog(spark, wh_dict).read("triples")
            .select(*cols).collect())
    )

    wh = str(tmp_path / "frames")
    with pytest.raises(RuntimeError, match="fault injection"):
        build_knowledge_base(spark, sf001_dir, wh, n_buckets=8,
                             fail_after_commits=1, dim_collect_cap=0)
    res = build_knowledge_base(spark, sf001_dir, wh, n_buckets=8,
                               dim_collect_cap=0)
    assert res["stage"]["skipped"], "resume should skip committed buckets"
    assert res["stage"]["ran"], "resume should run the remaining buckets"
    got = sorted(
        map(tuple, Catalog(spark, wh).read("triples")
            .select(*cols).collect())
    )
    assert got == expected


def test_dedup_job_families(spark, tmp_path, sf001_dir):
    """CLI-level dedup over the documents table: every family runs end
    to end and commits through the catalog; lsh and ngram agree exactly
    (same threshold, exact verification)."""
    from kbspark.jobs import dedup_job

    lsh = dedup_job(spark, sf001_dir, method="minhash-lsh",
                    warehouse=str(tmp_path / "wh"))
    ng = dedup_job(spark, sf001_dir, method="ngram-jaccard")
    lsh_pairs = {(r.doc_a, r.doc_b) for r in lsh.collect()}
    ng_pairs = {(r.doc_a, r.doc_b) for r in ng.collect()}
    assert lsh_pairs <= ng_pairs  # LSH recall <= exact posting join
    assert len(lsh_pairs) > 0  # a dead LSH path must not pass via {} <= S
    assert len(ng_pairs) > 0
    from kbspark.catalog import Catalog

    assert Catalog(spark, str(tmp_path / "wh")).read(
        "dedup_minhash-lsh"
    ).count() == len(lsh_pairs)


_KB_TABLES = ("entities", "aliases", "sitelinks", "triples")


def _table_rows(spark, warehouse):
    """Every KB table as sorted rows, doubles rounded to 9 places (the
    a-priori proba sums floats in a plan-dependent order)."""
    cat = Catalog(spark, warehouse)
    out = {}
    for t in _KB_TABLES:
        df = cat.read(t)
        df = df.select(*[F.round(c, 9).alias(c) if ty == "double" else c
                         for c, ty in df.dtypes])
        out[t] = sorted(map(tuple, df.collect()), key=repr)
    return out


def test_kb_snapshot_failure_propagates_and_rerun_matches(
        spark, sf001_dir, tmp_path, monkeypatch):
    """The four snapshot overwrites run in threads: a failure in one
    (``aliases``) must surface from build_knowledge_base after the others
    finished, and the rerun must produce all four tables equal to an
    uninterrupted build."""
    wh_ref = str(tmp_path / "ref")
    build_knowledge_base(spark, sf001_dir, wh_ref, n_buckets=8)
    expected = _table_rows(spark, wh_ref)

    overwrite = Catalog.overwrite

    def failing_overwrite(self, table, df, meta=None):
        if table == "aliases":
            raise RuntimeError("injected snapshot failure")
        return overwrite(self, table, df, meta)

    wh = str(tmp_path / "wh")
    monkeypatch.setattr(Catalog, "overwrite", failing_overwrite)
    with pytest.raises(RuntimeError, match="injected snapshot failure"):
        build_knowledge_base(spark, sf001_dir, wh, n_buckets=8)
    monkeypatch.undo()
    cat = Catalog(spark, wh)
    assert not cat.exists("aliases")
    assert all(cat.exists(t) for t in ("entities", "sitelinks", "triples"))

    res = build_knowledge_base(spark, sf001_dir, wh, n_buckets=8)
    assert res["stage"]["ran"] == []  # the triple buckets were committed
    assert _table_rows(spark, wh) == expected
    assert res["tables"] == {t: len(rows) for t, rows in expected.items()}
