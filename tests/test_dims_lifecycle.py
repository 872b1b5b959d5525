"""Dims and persisted tables live for one job: nothing derived from the
input survives in a process-wide memo, each job resolves its dims once
and passes them down, and ``reset_memos`` releases every table a job
persisted."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

import kbspark.jobs as jobs
import kbspark.kb as kb
from kbspark.corpus import dim_frames_from_documents, try_dims_from_documents
from kbspark.session import release_tracked, reset_memos

NEW_WORDS = ("quokkaberg", "zanderfluss", "yarrowfeld", "wombatstadt")


def _vocab(spark, sf_dir, derive):
    """Lower-cased vocabulary of one dims consumer over ``sf_dir``."""
    if derive == "try_dims_from_documents":
        return {t.lower() for t in try_dims_from_documents(spark, sf_dir)[0]}
    if derive == "dim_frames_from_documents":
        ent, _ = dim_frames_from_documents(spark, sf_dir)
        return {r["page_title"].lower() for r in ent.collect()}
    tagged = jobs.tagged_table(spark, sf_dir)
    rows = tagged.select(F.flatten("text").alias("t")).collect()
    return {tok.lower() for r in rows for tok in r["t"]}


@pytest.mark.parametrize(
    "derive",
    ["try_dims_from_documents", "dim_frames_from_documents", "tagged_table"],
)
def test_input_rewritten_in_place_gives_fresh_vocabulary(
        spark, sf001_dir, tmp_path, derive):
    """Rewriting documents.parquet in place between two jobs: the second
    must see the new words, not the first one's.

    The first job's persists are released in between, as its lifecycle
    ends (``release_tracked``, which the contract registry runs between
    queries). A persist that is still live is Spark's own snapshot: the
    CacheManager serves it to any later plan that re-reads the same path,
    until it is released."""
    sf = tmp_path / "sf"
    shutil.copytree(sf001_dir, sf)
    path = sf / "documents.parquet"
    docs = pd.read_parquet(path)
    old_words = {w for t in docs["text"] for w in t.split()}

    before = _vocab(spark, str(sf), derive)
    assert before & old_words  # the first call read the original corpus

    docs["text"] = [
        " ".join(NEW_WORDS[(d + i) % len(NEW_WORDS)] for i in range(8))
        for d in docs["doc_id"]
    ]
    release_tracked()
    docs.to_parquet(path, index=False)

    after = _vocab(spark, str(sf), derive)
    assert set(NEW_WORDS) <= after
    assert not after & old_words


def _count_calls(monkeypatch, calls):
    """Wrap the dims derivations where the jobs look them up, counting
    calls per function across both modules."""
    for mod in (jobs, kb):
        for name in ("try_dims_from_documents", "dim_frames_from_documents"):
            fn = getattr(mod, name)

            def counted(*a, _fn=fn, _name=name, **kw):
                calls[_name] += 1
                return _fn(*a, **kw)

            monkeypatch.setattr(mod, name, counted)


@pytest.mark.parametrize("cap", [None, 0])
@pytest.mark.parametrize(
    "job", ["entity_linking_job", "flagship_triples", "tagged_table",
            "build_knowledge_base"]
)
def test_each_job_resolves_dims_once(spark, sf001_dir, tmp_path,
                                     monkeypatch, job, cap):
    """Pass-down guard: one job call derives the dict dims at most once
    and the frame dims at most once (no memo hides a second derivation)."""
    calls = {"try_dims_from_documents": 0, "dim_frames_from_documents": 0}
    _count_calls(monkeypatch, calls)
    if job == "build_knowledge_base":
        kb.build_knowledge_base(spark, sf001_dir, str(tmp_path / "wh"),
                                n_buckets=2, dim_collect_cap=cap)
    else:
        getattr(jobs, job)(spark, sf001_dir, dim_collect_cap=cap)
    assert calls == {
        "try_dims_from_documents": 1,
        "dim_frames_from_documents": 0 if cap is None else 1,
    }


def test_reset_memos_releases_every_persist(spark, sf001_dir, tmp_path):
    """A frame-path EL job and a frame-path KB build leave persisted
    tables behind; ``reset_memos`` releases all of them."""
    reset_memos()
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    # compared by RDD id, not by count: Spark holds persisted RDDs weakly,
    # so ones earlier tests left unreferenced can vanish mid-test
    before = persisted()
    jobs.entity_linking_job(spark, sf001_dir, dim_collect_cap=0).count()
    kb.build_knowledge_base(spark, sf001_dir, str(tmp_path / "wh"),
                            n_buckets=2, dim_collect_cap=0)
    assert persisted() - before
    reset_memos()
    assert persisted() - before == set()
