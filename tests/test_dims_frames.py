"""Flagship dim scale path (VERDICT r01 #7): above DIM_COLLECT_CAP the
pipeline must not collect the vocabulary to the driver — J5 resolves via
DataFrame dim joins — and the result must be value-identical to the
dict/broadcast path."""

import pytest
from pyspark.sql import functions as F

import kbspark.jobs as jobs

from kbspark.corpus import (
    dim_frames_from_documents,
    dims_from_documents,
    try_dims_from_documents,
)
from kbspark.extract import (
    mention_stage,
    mention_stage_raw,
    resolve_mentions_frames,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "job,cap",
    [("flagship_triples", 3), ("entity_linking_job", 0), ("tagged_table", 0)],
)
def test_job_frame_path_matches_dict_path(spark, sf001_dir, job, cap):
    """Each job forced onto the frame path with a tiny cap must emit
    exactly its dict-path table: the triples, the whole tagged -> spans
    -> aliases -> scoring EL chain, and the tagged table (serial scan,
    persisted) through DataFrame dims."""
    via_dict = _rows(getattr(jobs, job)(spark, sf001_dir))
    via_frames = _rows(getattr(jobs, job)(spark, sf001_dir,
                                          dim_collect_cap=cap))
    assert via_frames == via_dict
    assert len(via_frames) > 0


def test_resolution_precedence_matches_resolve_title(spark, sf001_dir):
    """resolve_mentions_frames encodes resolve_title's precedence exactly
    (entity dict first, then one redirect hop, then dict-on-target)."""
    from kbspark.corpus import pages_from_documents

    pages = pages_from_documents(spark, sf001_dir)
    entity_types, redirect_targets = dims_from_documents(spark, sf001_dir)
    ent, red = dim_frames_from_documents(spark, sf001_dir)

    via_dict = _rows(mention_stage(pages, spark, entity_types, redirect_targets))
    via_frames = _rows(
        resolve_mentions_frames(mention_stage_raw(pages, spark), ent, red)
    )
    assert len(via_dict) > 0  # [] == [] must not pass vacuously
    assert via_frames == via_dict


def test_oversized_vocab_never_collects(spark, sf001_dir):
    """try_dims returns None above the cap (limit(cap+1) bounds driver
    memory); dims_from_documents raises instead of collecting."""
    assert try_dims_from_documents(spark, sf001_dir, max_rows=3) is None
    import kbspark.corpus as corpus

    old = corpus.DIM_COLLECT_CAP
    corpus.DIM_COLLECT_CAP = 3
    try:
        with pytest.raises(ValueError, match="DIM_COLLECT_CAP"):
            dims_from_documents(spark, sf001_dir)
    finally:
        corpus.DIM_COLLECT_CAP = old


def test_frame_path_plan_has_no_cartesian_and_joins_dims(spark, sf001_dir):
    """The relational J5 plan joins the dims (broadcast by default) and
    stays free of nested-loop/cartesian products."""
    from kbspark.corpus import pages_from_documents

    pages = pages_from_documents(spark, sf001_dir)
    ent, red = dim_frames_from_documents(spark, sf001_dir)
    out = resolve_mentions_frames(mention_stage_raw(pages, spark), ent, red)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_annotate_frames_matches_dict_path(spark, sf001_dir):
    """annotate_stage_frames (per-page link maps from relational joins)
    must produce a tagged table value-identical to the broadcast-dict
    annotate_stage (VERDICT r02 #2)."""
    from kbspark.corpus import pages_from_documents
    from kbspark.extract import annotate_stage, annotate_stage_frames

    pages = pages_from_documents(spark, sf001_dir)
    entity_types, redirect_targets = dims_from_documents(spark, sf001_dir)
    ent, red = dim_frames_from_documents(spark, sf001_dir)

    via_dict = _rows(
        annotate_stage(pages, spark, entity_types, redirect_targets)
    )
    via_frames = _rows(
        annotate_stage_frames(pages, spark, ent, red, broadcast_dims=False)
    )
    assert via_frames == via_dict
    assert len(via_frames) > 0


def test_kb_build_frame_path_matches_dict_path(spark, sf001_dir, tmp_path):
    """kb_build forced onto the frame path (cap=0) materializes the same
    four tables as the dict path."""
    from kbspark.catalog import Catalog
    from kbspark.kb import build_knowledge_base

    build_knowledge_base(spark, sf001_dir, str(tmp_path / "wh_dict"))
    build_knowledge_base(
        spark, sf001_dir, str(tmp_path / "wh_frames"), dim_collect_cap=0
    )
    cat_d = Catalog(spark, str(tmp_path / "wh_dict"))
    cat_f = Catalog(spark, str(tmp_path / "wh_frames"))
    for table in ("entities", "aliases", "sitelinks", "triples"):
        assert _rows(cat_f.read(table)) == _rows(cat_d.read(table)), table
