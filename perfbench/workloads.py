"""The three workloads. Each one generates its inputs from a seed, runs
its job through the public ``kbspark`` functions, checks the outputs, and
in a traced run decomposes the job into layer spans.

A workload object offers:

- ``stats``            input size figures, recorded in the output
- ``load(spark)``      the input load step of set-up
- ``warmup(spark)``    one discarded warm-up run; set-up makes ``warmups``
- ``run(spark, i)``    one timed run; returns ``{"job_s", "rows", "ok", ...}``
  where ``ok`` says the outputs reproduced the checked reference
- ``check(spark)``     once per seed: check the program's output against an
  independent oracle and fix the reference every timed run must reproduce
- ``trace(spark, tr)`` the decomposed, traced run; returns per-layer metrics
"""

from __future__ import annotations

import contextlib
import numbers
import os
import shutil
import time
from functools import reduce

from pyspark.sql import functions as F

from perfbench import inputs

#: checksum modulus: each row hash is reduced below 2^31 before the sum,
#: so the sum cannot overflow a long under ANSI mode
_MOD = 2_147_483_647

KB_TABLES = ("entities", "aliases", "sitelinks", "triples")


class CheckFailed(Exception):
    """The program's output differs from the oracle."""


def _row_hash(df):
    """Per-row hash below 2^31; doubles are rounded first so that
    summation-order noise in their last bits does not change it."""
    cols = [F.round(F.col(c), 6) if t in ("double", "float") else F.col(c)
            for c, t in df.dtypes]
    return F.pmod(F.xxhash64(*cols), F.lit(_MOD))


def fingerprint(df) -> tuple[int, int]:
    """(row count, order-insensitive checksum) of ``df``, in one job."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(_row_hash(df)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def table_fingerprints(spark, warehouse: str) -> dict[str, tuple[int, int]]:
    """``fingerprint`` of each KB table of ``warehouse``, in one job."""
    from kbspark.catalog import Catalog

    cat = Catalog(spark, warehouse)
    parts = []
    for t in KB_TABLES:
        df = cat.read(t)
        parts.append(df.select(F.lit(t).alias("t"), _row_hash(df).alias("h")))
    rows = reduce(lambda a, b: a.unionByName(b), parts).groupBy("t").agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).collect()
    return {r["t"]: (int(r["n"]), int(r["h"])) for r in rows}


def _canon(rows) -> list[tuple]:
    """Rows as sorted tuples of plain values, floats rounded to 6 places."""
    def cell(v):
        if isinstance(v, numbers.Integral):
            return int(v)
        if isinstance(v, numbers.Real):
            return round(float(v), 6)
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def duckdb_oracle(sql: str, documents_path: str) -> list[tuple]:
    """Evaluate a kbspark oracle query over ``documents_path`` in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{documents_path}')")
        return _canon(con.execute(sql).fetchall())
    finally:
        con.close()


def _compare(name: str, got: list[tuple], want: list[tuple]) -> None:
    if got != want:
        got_set, want_set = set(got), set(want)
        extra = [r for r in got if r not in want_set][:3]
        missing = [r for r in want if r not in got_set][:3]
        raise CheckFailed(
            f"{name}: {len(got)} rows vs oracle {len(want)}; "
            f"unexpected {extra}, missing {missing}")


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _persist_count(df):
    df = df.persist()
    return df, df.count()


class WikiExtract:
    """Flagship dict path over a synthetic wiki-markup corpus:
    ``extract.mention_stage`` -> ``triples.build_triples``."""

    name = "wiki_extract"
    n_pages = 6000
    #: the first runs of a JVM are 1.5-3x slower and keep speeding up
    #: while the JIT compiles the hot paths
    warmups = 2

    def __init__(self, work: str, seed: int):
        from kbspark.corpus import synth_dims

        self.path = os.path.join(work, "pages.parquet")
        self.quarter_path = os.path.join(work, "pages_quarter.parquet")
        self.stats = inputs.write_wiki_pages(
            self.path, self.quarter_path, self.n_pages, seed, parts=8,
            repeats=4)
        self.entity_types, self.redirect_targets = synth_dims(200, 60)
        self.expected: tuple[int, int] | None = None
        self.warm_fp: tuple[int, int] | None = None

    def load(self, spark) -> None:
        spark.read.parquet(self.path).count()

    def warmup(self, spark) -> None:
        """One run; its output is the one ``check`` compares."""
        self.warm_fp = fingerprint(self._job(spark, self.path))

    def _job(self, spark, path: str, partitions: int | None = None):
        from kbspark.extract import mention_stage
        from kbspark.triples import build_triples

        pages = spark.read.parquet(path)
        if partitions:
            pages = pages.coalesce(partitions)
        mentions = mention_stage(pages, spark, self.entity_types,
                                 self.redirect_targets)
        return build_triples(spark, mentions, self.entity_types,
                             self.redirect_targets)

    def run(self, spark, i: int) -> dict:
        fp, secs = _timed(lambda: fingerprint(self._job(spark, self.path)))
        return {"job_s": secs, "rows": fp[0], "ok": fp == self.expected}

    untraced_run = run

    def check(self, spark) -> None:
        """Dict path == frame path (mention_stage_raw ->
        resolve_mentions_frames -> build_triples_from_frames)."""
        import pandas as pd

        from kbspark.extract import mention_stage_raw, resolve_mentions_frames
        from kbspark.triples import build_triples_from_frames, entity_dim_df

        ent = entity_dim_df(spark, self.entity_types)
        red = spark.createDataFrame(pd.DataFrame({
            "alias": list(self.redirect_targets),
            "page_title": list(self.redirect_targets.values())}))
        raw = mention_stage_raw(spark.read.parquet(self.path), spark)
        frames = build_triples_from_frames(
            resolve_mentions_frames(raw, ent, red), ent, red)
        want = fingerprint(frames)
        if self.warm_fp != want:
            raise CheckFailed(f"wiki_extract: dict path {self.warm_fp} != "
                              f"frame path {want}")
        self.expected = want

    def scaling_run(self, spark) -> float:
        """Seconds for the same job with one task over a quarter of the
        pages (input coalesced to 1 partition, 1 shuffle partition)."""
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, "1")
        try:
            _, secs = _timed(lambda: fingerprint(
                self._job(spark, self.quarter_path, partitions=1)))
        finally:
            spark.conf.set(key, old)
        return secs

    def trace(self, spark, tr) -> dict:
        from kbspark.extract import mention_stage
        from kbspark.triples import build_triples

        pages = spark.read.parquet(self.path)
        with tr.span("extract.mention_stage") as s1:
            mentions, n_mentions = _persist_count(mention_stage(
                pages, spark, self.entity_types, self.redirect_targets))
        with tr.span("triples.build") as s2:
            out = build_triples(spark, mentions, self.entity_types,
                                self.redirect_targets).persist()
            fp = fingerprint(out)
        resolved = mentions.filter(F.col("entity_type") != "O").count()
        mention_triples = out.filter(F.col("pred") == "mentions").count()
        out.unpersist()
        mentions.unpersist()
        return _traced([s1, s2], tr, fp == self.expected, {
            "extract.mentions_per_doc": n_mentions / self.n_pages,
            "triples.dedup_ratio": resolved / mention_triples,
        })


class CrawlEL:
    """Full entity linking (``jobs.entity_linking_job``, dict dims) over a
    documents table whose vocabulary is 24 titles."""

    name = "crawl_el"
    n_docs = 1500
    #: job times of a fresh JVM fall steeply over the first three runs
    #: (and slowly for several more)
    warmups = 3

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "docs")
        self.stats = inputs.write_documents(self.sf_dir, self.n_docs, seed)
        self.expected: tuple[int, int] | None = None
        self.warm_fp: tuple[int, int] | None = None
        self.warm_rows: list[tuple] = []

    def load(self, spark) -> None:
        spark.read.parquet(f"{self.sf_dir}/documents.parquet").count()

    def warmup(self, spark) -> None:
        """One run that also collects its output for ``check``."""
        from kbspark.jobs import entity_linking_job

        el = entity_linking_job(spark, self.sf_dir).persist()
        try:
            self.warm_fp = fingerprint(el)
            self.warm_rows = _canon(el.toPandas().itertuples(index=False))
        finally:
            el.unpersist()

    def run(self, spark, i: int) -> dict:
        from kbspark.jobs import entity_linking_job

        fp, secs = _timed(lambda: fingerprint(
            entity_linking_job(spark, self.sf_dir)))
        return {"job_s": secs, "rows": fp[0], "ok": fp == self.expected}

    untraced_run = run

    def check(self, spark) -> None:
        """The warm-up output equals the DuckDB oracle of the EL table row
        for row."""
        from kbspark.queries_graph import _EL_FULL_ORACLE

        _compare("crawl_el", self.warm_rows, duckdb_oracle(
            _EL_FULL_ORACLE, f"{self.sf_dir}/documents.parquet"))
        self.expected = self.warm_fp

    def trace(self, spark, tr) -> dict:
        """``entity_linking_job`` called layer by layer, as the job wires
        it on the dict-dim path."""
        from kbspark.corpus import pages_from_documents, try_dims_from_documents
        from kbspark.extract import annotate_stage
        from kbspark.linking import (
            build_alias_dict,
            entity_context_profiles,
            link_entities,
            linking_quality,
            mention_spans_sql,
            mine_anchor_aliases,
        )
        from kbspark.triples import entity_dim_df, redirect_alias_frame

        with tr.span("corpus.dims") as s_dims:
            entity_types, redirect_targets = try_dims_from_documents(
                spark, self.sf_dir)
        with tr.span("corpus.pages") as s_pages:
            pages, _ = _persist_count(pages_from_documents(spark, self.sf_dir))
        with tr.span("extract.annotate_stage") as s_annotate_stage:
            tagged, _ = _persist_count(
                annotate_stage(pages, spark, entity_types, redirect_targets))
        with tr.span("linking.spans") as s_spans:
            spans, n_spans = _persist_count(mention_spans_sql(tagged))
        dim = entity_dim_df(spark, entity_types)
        with tr.span("linking.mine") as s_mine:
            mined, _ = _persist_count(mine_anchor_aliases(
                spans, dim, target_col="gt", max_targets_per_surface=8,
                dim_hint="broadcast"))
        with tr.span("linking.profiles") as s_profiles:
            profiles, _ = _persist_count(entity_context_profiles(spans))
        red = redirect_alias_frame(spark, dim,
                                   redirect_targets=redirect_targets, proba=0.0)
        own = dim.select(F.col("page_title").alias("alias"), "page_title",
                         "QID", "TYPE", F.lit(0.0).alias("proba"))
        aliases = (own.unionByName(red).unionByName(mined)
                   .groupBy("alias", "page_title", "QID", "TYPE")
                   .agg(F.max("proba").alias("proba"))
                   .withColumn("wikidata", F.col("QID")))
        with tr.span("linking.dict") as s_dict:
            dict_df, _ = _persist_count(build_alias_dict(aliases, profiles))
        with tr.span("linking.link") as s_link:
            el = link_entities(spans, aliases, profiles=profiles,
                               aliases_hint="auto", dict_df=dict_df).persist()
            fp = fingerprint(el)
        quality = linking_quality(el).collect()[0]
        for df in (el, dict_df, profiles, mined, spans, tagged, pages):
            df.unpersist()
        recs = [s_dims, s_pages, s_annotate_stage, s_spans, s_mine,
                s_profiles, s_dict, s_link]
        return _traced(recs, tr, fp == self.expected, {
            "corpus.vocab_rows": len(entity_types),
            "extract.mentions_per_doc": n_spans / self.n_docs,
            "linking.candidates_per_span": fp[0] / n_spans,
            "linking.precision": quality["precision"],
            "linking.recall": quality["recall"],
        })


class KbBuildResume:
    """``kb.build_knowledge_base`` on frame dims: a full build, a build
    killed after its first commit, and the rerun that resumes it."""

    name = "kb_build_resume"
    n_docs = 1000
    warmups = 2
    #: 8 buckets commit in two batches of 4: the kill after the first
    #: commit leaves half of the buckets for the resume
    n_buckets = 8

    def __init__(self, work: str, seed: int):
        self.work = work
        self.sf_dir = os.path.join(work, "docs")
        self.stats = inputs.write_documents(self.sf_dir, self.n_docs, seed)
        self.expected: dict | None = None

    def load(self, spark) -> None:
        spark.read.parquet(f"{self.sf_dir}/documents.parquet").count()

    def _build(self, spark, warehouse: str, **kw) -> dict:
        from kbspark.kb import build_knowledge_base

        return build_knowledge_base(spark, self.sf_dir, warehouse,
                                    n_buckets=self.n_buckets,
                                    dim_collect_cap=1, **kw)

    def _killed_build(self, spark, warehouse: str) -> None:
        try:
            self._build(spark, warehouse, fail_after_commits=1)
        except RuntimeError as e:
            if "fault injection" not in str(e):
                raise
        else:
            raise CheckFailed("kb_build_resume: the killed build completed")

    def warmup(self, spark) -> None:
        """A full build, kept for ``check``."""
        self._build(spark, self._warehouse("setup"))

    def _warehouse(self, tag: str) -> str:
        path = os.path.join(self.work, f"wh-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def run(self, spark, i: int) -> dict:
        from kbspark.session import reset_memos

        full, resumed = self._warehouse(f"{i}-full"), self._warehouse(f"{i}-res")
        res, job_s = _timed(lambda: self._build(spark, full))
        reset_memos()
        _, killed_s = _timed(lambda: self._killed_build(spark, resumed))
        reset_memos()
        res2, resume_s = _timed(lambda: self._build(spark, resumed))
        ok = (bool(res2["stage"]["skipped"])
              and table_fingerprints(spark, full) == self.expected
              and table_fingerprints(spark, resumed) == self.expected)
        shutil.rmtree(full)
        shutil.rmtree(resumed)
        return {"job_s": job_s, "rows": res["tables"]["triples"], "ok": ok,
                "killed_s": killed_s, "resume_s": resume_s,
                "resume_overhead": (killed_s + resume_s - job_s) / job_s}

    def untraced_run(self, spark, i: int) -> dict:
        """The full build alone (the traced run's reference time)."""
        wh = self._warehouse(f"{i}-full")
        res, job_s = _timed(lambda: self._build(spark, wh))
        ok = table_fingerprints(spark, wh) == self.expected
        shutil.rmtree(wh)
        return {"job_s": job_s, "rows": res["tables"]["triples"], "ok": ok}

    def check(self, spark) -> None:
        """The ``triples`` table of the warm-up build matches the DuckDB
        triples oracle row for row."""
        from kbspark.catalog import Catalog
        from kbspark.queries_graph import _KG_TRIPLES_ORACLE

        wh = os.path.join(self.work, "wh-setup")
        triples = Catalog(spark, wh).read("triples").select(
            "subj", "pred", "obj", "n_occurrences")
        _compare("kb_build_resume triples",
                 _canon(triples.toPandas().itertuples(index=False)),
                 duckdb_oracle(_KG_TRIPLES_ORACLE,
                               f"{self.sf_dir}/documents.parquet"))
        self.expected = table_fingerprints(spark, wh)

    def trace(self, spark, tr) -> dict:
        """Two passes: the build's extract work decomposed layer by layer
        on frame dims, then one undecomposed full/killed/resume cycle with
        spans around its eager catalog, lineage and dims calls."""
        import kbspark.kb as kbmod
        from kbspark.catalog import Catalog
        from kbspark.corpus import dim_frames_from_documents, pages_from_documents
        from kbspark.extract import mention_stage_raw, resolve_mentions_frames
        from kbspark.session import reset_memos
        from kbspark.triples import mention_triples

        with tr.span("corpus.dims") as c1:
            ent, red = dim_frames_from_documents(spark, self.sf_dir)
            vocab = ent.count()
        with tr.span("corpus.pages") as c2:
            pages, _ = _persist_count(pages_from_documents(spark, self.sf_dir))
        with tr.span("extract.mention_stage_raw") as e1:
            raw, n_raw = _persist_count(mention_stage_raw(pages, spark))
        with tr.span("extract.resolve_frames") as e2:
            mentions, _ = _persist_count(resolve_mentions_frames(
                raw, ent, red, broadcast_dims=False))
        with tr.span("triples.build") as t1:
            mt, n_mt = _persist_count(mention_triples(
                mentions, ent.select("page_title", "TYPE", "QID"),
                broadcast_dim=False))
        resolved = mentions.filter(F.col("entity_type") != "O").count()
        for df in (mt, mentions, raw, pages):
            df.unpersist()
        decomposed = _traced([c1, c2, e1, e2, t1], tr, True, {
            "corpus.vocab_rows": vocab,
            "extract.mentions_per_doc": n_raw / self.n_docs,
            "triples.dedup_ratio": resolved / n_mt,
        })

        full_wh, res_wh = self._warehouse("trace-full"), self._warehouse(
            "trace-res")
        reset_memos()
        with contextlib.ExitStack() as wrapped:
            for owner, attr, name in (
                (kbmod, "try_dims_from_documents", "corpus.try_dims"),
                (kbmod, "run_stage", "lineage.run_stage"),
                (Catalog, "stage_partitioned", "catalog.stage"),
                (Catalog, "commit_staged", "catalog.commit"),
                (Catalog, "overwrite", "catalog.overwrite"),
            ):
                wrapped.enter_context(tr.wrap(owner, attr, name))
            with tr.span("kb.build", step="full") as full:
                self._build(spark, full_wh)
            reset_memos()
            with tr.span("kb.build", step="killed") as killed:
                self._killed_build(spark, res_wh)
            reset_memos()
            with tr.span("kb.build", step="resume") as resume:
                self._build(spark, res_wh)
        ok = (table_fingerprints(spark, full_wh) == self.expected
              and table_fingerprints(spark, res_wh) == self.expected)

        def dur(s):
            return s["end"] - s["start"]

        full_spans = tr.subtree(full["id"])
        st = tr.self_times(full_spans)
        run_stage_end = max(s["end"] for s in full_spans
                            if s["name"] == "lineage.run_stage")
        later = tr.subtree(killed["id"]) + tr.subtree(resume["id"])
        n_bytes, n_files = _parquet_files(full_wh)
        metrics = decomposed["metrics"]
        metrics.update({
            "lineage.run_stage_s": st.get("lineage.run_stage", 0.0),
            "lineage.commits": sum(s["name"] == "catalog.commit"
                                   for s in later),
            "lineage.buckets_rerun_ratio": (
                _staged_buckets(res_wh) / _staged_buckets(full_wh)),
            "catalog.stage_s": st.get("catalog.stage", 0.0),
            "catalog.commit_s": st.get("catalog.commit", 0.0),
            "catalog.overwrite_s": st.get("catalog.overwrite", 0.0),
            "catalog.bytes_written": n_bytes,
            "catalog.files_written": n_files,
            "kb.build_s": st.get("kb.build", 0.0),
            "kb.snapshots_s": full["end"] - run_stage_end,
            "workload.resume_s": dur(resume),
            "workload.resume_overhead": (dur(killed) + dur(resume)
                                         - dur(full)) / dur(full),
        })
        shutil.rmtree(full_wh)
        shutil.rmtree(res_wh)
        return {"roots": [full["id"]], "spans": decomposed["spans"],
                "ok": ok, "metrics": metrics}


def _traced(recs: list[dict], tr, ok: bool, metrics: dict) -> dict:
    """Trace result of a decomposed run: the self time of each span as
    ``<span name>_s`` plus ``metrics``; the spans are also the roots whose
    durations the self times must account for."""
    ids = [r["id"] for r in recs]
    out = {f"{n}_s": v for n, v in tr.self_times(recs).items()}
    out.update(metrics)
    return {"roots": ids, "spans": ids, "ok": ok, "metrics": out}


def _staged_buckets(warehouse: str) -> int:
    """Bucket partitions staged (computed and written) for the mention
    triples of ``warehouse``, across every staging pass."""
    tdir = os.path.join(warehouse, "triples_mentions")
    return sum(
        sum(p.startswith("_bucket=") for p in os.listdir(os.path.join(tdir, d)))
        for d in os.listdir(tdir) if d.startswith("stage-"))


def _parquet_files(warehouse: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(warehouse):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
    return n_bytes, n_files


WORKLOADS = {w.name: w for w in (WikiExtract, CrawlEL, KbBuildResume)}
