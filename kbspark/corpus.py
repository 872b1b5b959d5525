"""Deterministic synthetic corpora (FIXTURES.md §1).

Two generators:

1. ``synth_corpus`` — a seeded wiki-markup corpus in the input_hint shape
   ``(url, warc_ts, html, text, lang)`` that exercises every regex branch
   of the E1 cascade plus entity/redirect/disambiguation structure, with a
   Zipf head-entity skew knob (exercises salted aggregation, SURVEY §2.D
   A2). Used by unit tests and the scaling bench.

2. ``pages_from_documents`` — derives the same shape *deterministically*
   from the driver's ``documents.parquet`` (doc_id/text/lang), entirely
   row-local (mapInPandas), so the flagship ``entry()`` runs the real
   pipeline over driver-provided data without any RNG or external input.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# 1. Seeded synthetic wiki corpus
# ---------------------------------------------------------------------------

_VOCAB = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega stadt fluss berg "
    "verein firma museum schule theater bahnhof kirche schloss park insel"
).split()

_LANGS = ("de", "de", "fr", "en")  # 50/25/25 skew per FIXTURES.md


def entity_title(i: int) -> str:
    return f"Entity_{_VOCAB[i % len(_VOCAB)].capitalize()}_{i}"


def _entity_type_for(i: int) -> str:
    return ("PER", "LOC", "ORG")[i % 3]


def synth_dims(n_entities: int = 200, n_redirects: int = 60):
    """Entity-type and redirect dictionaries matching the corpus.

    Returns ``(entity_types, redirect_targets)`` dicts — the broadcast
    dims for the extract stages (analog of all_entities/redirects,
    ner.py:254-256).
    """
    entity_types = {entity_title(i): _entity_type_for(i) for i in range(n_entities)}
    redirect_targets = {
        f"Redirect_{j}": entity_title(j % n_entities) for j in range(n_redirects)
    }
    return entity_types, redirect_targets


def _synth_page(p: int, rng, n_entities: int, n_redirects: int,
                zipf_a: float, repeats: int) -> dict:
    """One page row — pure function of (p, rng state)."""
    base_ts = _dt.datetime(2024, 1, 1)
    ent_ids = np.minimum(rng.zipf(zipf_a, size=5 * repeats + 3) - 1, n_entities - 1)
    redir_id = int(rng.randint(0, n_redirects))
    words = rng.choice(_VOCAB, size=24 * repeats + 8)
    e = [entity_title(int(i)) for i in ent_ids]
    chunks = []
    for r in range(repeats):
        w = words[24 * r : 24 * (r + 1)]
        k = 5 * r
        # signature context words co-occur with their entity's links —
        # entity-correlated context (how real corpora behave), so
        # context-profile disambiguation has signal to work with while
        # surfaces stay ambiguous across entities
        sig1 = f"sig{int(ent_ids[k+1])}"
        sig2 = f"sig{int(ent_ids[k+2])}"
        sig_r = f"sig{redir_id % n_entities}"
        chunks += [
            f"{w[0]} {w[1]} [[{e[k]}]] {w[2]}. ",
            f"{w[3]} [[{e[k+1]}|{w[4]} {w[5]}]] {sig1} {w[6]}. ",
            f"[[{e[k+2]}#section|{w[7]}]] {sig2} {w[8]} {w[9]}. ",
            f"[[Redirect_{redir_id}|{w[10]}]] {sig_r} {w[11]}. ",
            f"[[Unknown_{p}]] {w[12]} &nbsp; {w[13]}. ",
            f"{{{{Infobox|name={w[14]}|data={{{{nested|{w[15]}}}}}}}}} ",
            f"{{| class=wikitable |- | {w[16]} |}} ",
            f"<ref>{w[17]}</ref> {w[18]} <br/> ",
            f"<!-- hidden {w[19]} --> == {w[20].capitalize()} == ",
            f"[http://example.com/{p} ext] [[Datei:img_{p}.png|thumb]] ",
            f"{w[21]} [[{e[k+3]}]] {w[22]} [[{e[k+4]}]]. ",
        ]
    chunks.append(f"== Literatur == {words[-1]} trailing refs")
    text = "".join(chunks)
    lang = _LANGS[p % len(_LANGS)]
    return {
        "url": f"https://site{p % 7}.example/{lang}/wiki/Page_{p}",
        "warc_ts": base_ts + _dt.timedelta(minutes=p % 500_000),
        "html": text.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


def synth_corpus(
    n_pages: int,
    seed: int = 42,
    n_entities: int = 200,
    n_redirects: int = 60,
    zipf_a: float = 1.5,
    repeats: int = 1,
) -> pd.DataFrame:
    """Seeded corpus of wiki-markup pages in the input_hint shape.

    Markup features per page cover: plain/surfaced/anchored wikilinks,
    redirect links, nested templates and tables, paired/self-closing tags,
    comments, headings, terminal literature sections, ``&nbsp;``, external
    and file links. Entity references are Zipf-distributed → head-entity
    skew. ``repeats`` scales per-page size (bench knob).
    """
    rng = np.random.RandomState(seed)
    rows = [
        _synth_page(p, rng, n_entities, n_redirects, zipf_a, repeats)
        for p in range(n_pages)
    ]
    return pd.DataFrame(rows)


def synth_corpus_df(spark, n_pages: int, seed: int = 42,
                    n_partitions: int | None = None, **kw):
    """``synth_corpus`` as a Spark DataFrame.

    Two regimes (content DIFFERS across the 50k boundary for the same
    seed — pick one side for any size-sensitivity comparison): up to
    50k pages a single sequential RandomState on the driver (the golden
    fixtures pin this); above, generation is distributed — a range of
    page ids → mapInPandas; each page re-seeds RandomState(seed + id),
    so content is a pure function of the page id, independent of
    partitioning and parallelism."""
    if n_pages <= 50_000:
        sdf = spark.createDataFrame(synth_corpus(n_pages, seed=seed, **kw))
        return sdf.repartition(n_partitions) if n_partitions else sdf

    n_entities = kw.get("n_entities", 200)
    n_redirects = kw.get("n_redirects", 60)
    zipf_a = kw.get("zipf_a", 1.5)
    repeats = kw.get("repeats", 1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _synth_page(
                    int(pid), np.random.RandomState(seed + int(pid)),
                    n_entities, n_redirects, zipf_a, repeats,
                )
                for pid in pdf["id"]
            ]
            if rows:
                yield pd.DataFrame(rows)

    rng_df = spark.range(n_pages).repartition(n_partitions or 64)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# 2. Deterministic derivation from the driver's documents table
# ---------------------------------------------------------------------------

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def spread_small_scan(df, spark, target: int | None = None,
                      min_bytes_per_partition: int | None = None):
    """Repartition a SMALL scan across the session's cores — and ONLY a
    small one (optimization guide §2.2/§6): a parquet file under
    ``maxPartitionBytes`` arrives as ONE split, so every narrow map stage
    downstream (clean/tokenize/annotate mapInPandas, shingle/minhash
    array expressions, map-side partial aggregation) runs on a single
    core of ``local[N]`` until the first exchange.

    Scale-adaptive by construction, not tuned to the bench: the gate
    reads Catalyst's size estimate for the plan (driver-side statistics,
    no job) and leaves any input big enough to already split into >=
    ``target`` scan partitions untouched — at cluster scale (the 100-TB
    regime) this is a structural no-op, while a dictionary-sized input
    pays one trivial shuffle of itself to unlock full-width map
    parallelism. ``target`` defaults to the session's default
    parallelism (cores), never a constant.

    ``min_bytes_per_partition``: scale the fan-out with the data instead
    of jumping straight to ``target`` — the effective target becomes
    ``clamp(size / min_bytes_per_partition, 1, target)``. Right for
    mid-pipeline re-spreads ahead of a python stage whose DOWNSTREAM
    consumers are many small shuffle stages: a tiny input stays at 1-4
    partitions (no 32-task scheduling amplification through the rest of
    the plan) while a working-set-sized input still fans out to the full
    core count (r06 interleaved bisect on the frame-dim tagged chain).

    CAVEAT (r06 review): Catalyst's non-CBO size estimate is only
    scan-accurate; a JOIN's estimate is the product of its children and
    blows past any gate. Gate on a LEAF-adjacent plan (the scan, a
    python stage directly over it) and, to re-spread a join output,
    compute the target from the pre-join side via ``spread_target`` and
    repartition the join output with it explicitly."""
    n = spread_target(
        df, spark, target=target,
        min_bytes_per_partition=min_bytes_per_partition,
    )
    return df.repartition(n) if n else df


def spread_target(df, spark, target: int | None = None,
                  min_bytes_per_partition: int | None = None) -> int | None:
    """The partition-count decision behind ``spread_small_scan``,
    exposed so a caller can gate on one plan (whose Catalyst estimate
    is trustworthy — a scan or a narrow stage over it) and apply the
    repartition to another (e.g. a join output whose own estimate is a
    meaningless product of child sizes). Returns None when no
    repartition is warranted: the input is cluster-sized (size gate),
    already splits into a meaningful fraction of ``target`` scan
    partitions (>= half — a shuffle that adds < 2x parallelism is pure
    cost, r06 review), or is too small to spread under
    ``min_bytes_per_partition``."""
    target = target or spark.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        try:
            maxpb = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils
                .byteStringAsBytes(
                    spark.conf.get("spark.sql.files.maxPartitionBytes")
                )
            )
        except Exception:
            maxpb = 128 * 1024 * 1024
    except Exception:  # size estimate unavailable (e.g. Connect) — leave
        return None
    # natural split count the scan would already get; spreading is only
    # worth a full-data shuffle when it at least doubles parallelism
    est_splits = size // maxpb + 1
    if est_splits * 2 >= target:
        return None
    if min_bytes_per_partition:
        n = max(1, min(target, size // min_bytes_per_partition))
        if n <= 1:
            return None
        return n
    return target


def _doc_to_markup(doc_id: int, text: str) -> str:
    """Inject wiki markup into a document deterministically (pure function
    of doc_id + token position; no RNG, no collect — safe to run
    distributed)."""
    words = text.split()
    out = []
    for i, w in enumerate(words):
        h = (doc_id * 1_000_003 + i * 101) % 17
        if h == 0 and len(w) >= 4:
            out.append(f"[[{w.capitalize()}]]")
        elif h == 1 and len(w) >= 4:
            out.append(f"[[{w.capitalize()}|{w}]]")
        elif h == 2 and len(w) >= 4:
            out.append(f"[[{w.capitalize()}_redir|{w}]]")
        elif h == 3:
            out.append("{{cite|" + w + "}}")
        elif h == 4:
            out.append(f"<ref>{w}</ref>")
        else:
            out.append(w)
        if (i * 7 + doc_id) % 23 == 0:
            out.append(".")
    return " ".join(out) + " == Literatur == trailing"


def pages_from_documents(spark, sf_dir: str, spread: bool = True):
    """documents.parquet → input_hint-shaped pages DataFrame (url, warc_ts,
    html, text, lang); markup injected deterministically per doc.

    ``spread=False`` skips the small-scan repartition: right for
    many-small-stage consumers (the frame-dim tagged chain) where wide
    task fan-out adds scheduling overhead to every intermediate
    join/fold stage for little map-side gain (r06 interleaved bisect:
    the frames chain ran ~1.4s faster with the scan left serial)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if spread:
        docs = spread_small_scan(docs, spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        epoch = _dt.datetime(2024, 1, 1)
        for pdf in batches:
            marked = [
                _doc_to_markup(int(d), t) for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "url": [f"https://crawl.example/doc/{int(d)}" for d in pdf["doc_id"]],
                    "warc_ts": [
                        epoch + _dt.timedelta(seconds=int(d)) for d in pdf["doc_id"]
                    ],
                    "html": [m.encode("utf-8") for m in marked],
                    "text": marked,
                    "lang": pdf["lang"],
                }
            )

    return docs.select("doc_id", "text", "lang").mapInPandas(run, schema=PAGES_SCHEMA)


#: above this vocabulary size the dict path would ship an unbounded
#: corpus-derived dictionary to the driver (10^8-10^9 distinct tokens on a
#: 100-TB web corpus -> driver OOM); the flagship auto-switches to the
#: DataFrame dim path (``dim_frames_from_documents`` + relational J5).
DIM_COLLECT_CAP = 500_000

def words_from_documents(spark, sf_dir: str):
    """(doc_id, _w) token table over documents.parquet
    (kbspark.textops.words_table shape), persisted through
    ``session.persist_tracked`` so a query's sibling dedup families
    tokenize the corpus once and the table is released with the query's
    other persists."""
    from kbspark.session import persist_tracked
    from kbspark.textops import words_table

    docs = spread_small_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), spark
    )
    return persist_tracked(words_table(docs))


def _entity_type_of(title: str) -> str:
    """Stable TYPE hash used by both the dict and DataFrame dim paths
    (and inverted by the kg_* DuckDB oracles)."""
    return ("PER", "LOC", "ORG")[sum(title.encode()) % 3]


def vocab_titles(spark, sf_dir: str):
    """Distinct >=4-char capitalized corpus vocabulary as a DataFrame
    (column ``title``) — the shared input of both dim paths.

    Derives straight from the documents scan rather than the persisted
    ``words_from_documents`` table (r06): its repartition + cache
    materialization is pure overhead for a vocab-only consumer (A/B:
    0.33s vs 0.54-0.75s cold at sf0.1), the split itself is a trivial
    fraction of the scan, and each job resolves its dims once and passes
    them down, so a job derives the vocabulary once. The
    dedup families keep sharing ``words_from_documents``; the token
    DEFINITION stays single-sourced in ``textops.words_table`` (r06
    review: an inline re-split could silently diverge from the dedup
    families' tokenizer)."""
    from pyspark.sql import functions as F

    from kbspark.textops import words_table

    # filter + initcap + per-doc dedup IN-ROW before the explode (r06,
    # guide §2.3 — aggregate before you shuffle): the distinct's
    # map-side partial agg then reads one row per (doc, distinct title)
    # instead of one per token occurrence. Values identical (same set);
    # A/B parity-exact, row-reduction grows with per-doc repetition at
    # corpus scale.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arr = F.array_distinct(
        F.transform(
            F.filter(F.col("_w"), lambda t: F.length(t) >= 4),
            lambda t: F.initcap(t),
        )
    )
    return words_table(docs).select(F.explode(arr).alias("title")).distinct()


def dim_frames_from_documents(spark, sf_dir: str):
    """The scale path: entity/redirect dims as DataFrames — nothing is
    ever collected to the driver. Returns ``(entity_dim, redirect_dim)``
    with entity_dim = (page_title, TYPE, QID) and redirect_dim =
    (alias, page_title). TYPE is computed inside an Arrow batch so its
    byte-sum semantics stay identical to the dict path.

    The entity dim is persisted through ``session.persist_tracked``:
    a frame-path job references it in up to ~6 join subtrees (resolve
    precedence joins, triple families, alias frames), and without
    materialization every reference re-executes the full words-scan ->
    explode -> distinct -> TYPE pipeline (r06 plan audit: 21 parquet
    scans / 42 MapInPandas nodes in one kg_el_frames plan). The
    reference likewise writes its dictionary once before tagging
    (ner.py:254-256). Call once per job and pass the frames down."""
    from pyspark.sql import functions as F

    from kbspark.session import persist_tracked
    from kbspark.triples import qid_col

    def typed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "page_title": pdf["title"],
                    "TYPE": [_entity_type_of(t) for t in pdf["title"]],
                }
            )

    ent = persist_tracked(vocab_titles(spark, sf_dir).mapInPandas(
        typed, schema="page_title string, TYPE string"
    ).withColumn("QID", qid_col()))
    red = ent.select(
        F.concat(F.col("page_title"), F.lit("_redir")).alias("alias"),
        "page_title",
    )
    return ent, red


def try_dims_from_documents(
    spark, sf_dir: str, max_rows: int | None = None
) -> tuple[dict[str, str], dict[str, str]] | None:
    """Dict dims if the vocabulary fits under ``max_rows``, else None
    (caller switches to ``dim_frames_from_documents``). One Spark job:
    ``limit(max_rows + 1)`` bounds driver memory — we never collect an
    unbounded vocabulary just to discover it was too big."""
    if max_rows is None:
        max_rows = DIM_COLLECT_CAP
    rows = vocab_titles(spark, sf_dir).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    titles = sorted(r["title"] for r in rows)
    entity_types = {t: _entity_type_of(t) for t in titles}
    redirect_targets = {f"{t}_redir": t for t in titles}
    return entity_types, redirect_targets


@dataclass(frozen=True)
class Dims:
    """One job's entity/redirect dims, and the only code that knows
    whether they were collected.

    Dim strategy is size-gated (VERDICT r02 #2). A dictionary-sized
    vocabulary collects under the job's ``dim_collect_cap``
    (``try_dims_from_documents`` -> ``Dims.collected``): extraction probes
    broadcast dicts in-batch, the reference's worker-dict shape
    (ner.py:292-293), and every dim join is a forced broadcast. Above the
    cap nothing is collected (``dim_frames_from_documents`` -> ``Dims``):
    extraction resolves links by relational joins and the planner/AQE
    picks every join strategy, the 100-TB path where the corpus-derived
    dictionary is itself big data. SparkER (EDBT 2019) makes the same
    split: broadcast the small dictionary structures, let the planner
    shuffle the big side.

    ``entity`` (page_title, TYPE, QID) and ``redirect`` (alias,
    page_title) are DataFrames on both paths; ``broadcast`` and ``hint``
    say how to join them."""

    entity: DataFrame
    redirect: DataFrame
    _dicts: tuple[dict[str, str], dict[str, str]] | None = None

    @classmethod
    def collected(cls, spark, entity_types: dict[str, str],
                  redirect_targets: dict[str, str]) -> Dims:
        from kbspark.triples import _dict_frame, entity_dim_df

        return cls(
            entity_dim_df(spark, entity_types),
            _dict_frame(spark, redirect_targets, "alias", "page_title"),
            (entity_types, redirect_targets),
        )

    @property
    def broadcast(self) -> bool:
        return self._dicts is not None

    @property
    def hint(self) -> str:
        return "broadcast" if self.broadcast else "auto"

    def mentions(self, pages: DataFrame) -> DataFrame:
        """E2 mentions of ``pages`` resolved against the dims."""
        from kbspark.extract import (
            mention_stage,
            mention_stage_raw,
            resolve_mentions_frames,
        )

        spark = pages.sparkSession
        if self.broadcast:
            return mention_stage(pages, spark, *self._dicts)
        return resolve_mentions_frames(
            mention_stage_raw(pages, spark), self.entity, self.redirect,
            broadcast_dims=False,
        )

    def tagged(self, pages: DataFrame) -> DataFrame:
        """BIO-tagged table of ``pages`` (``extract.TAGGED_SCHEMA``)."""
        from kbspark.extract import annotate_stage, annotate_stage_frames

        spark = pages.sparkSession
        if self.broadcast:
            return annotate_stage(pages, spark, *self._dicts)
        return annotate_stage_frames(
            pages, spark, self.entity, self.redirect, broadcast_dims=False
        )


def dims_from_documents(spark, sf_dir: str) -> tuple[dict[str, str], dict[str, str]]:
    """Derive the broadcast entity/redirect dictionaries from the corpus
    vocabulary: every word of length >= 4 is an entity page title
    (capitalized), typed by a stable hash; ``<Title>_redir`` redirects to
    ``<Title>``. Dictionary-sized dims only — above DIM_COLLECT_CAP this
    raises; use ``dim_frames_from_documents`` (the reference ships
    all_entities/redirects dicts to its worker pool, ner.py:292-293, but
    its dictionary is a fixed curated KB, not corpus-scaling)."""
    dims = try_dims_from_documents(spark, sf_dir)
    if dims is None:
        raise ValueError(
            f"corpus vocabulary exceeds DIM_COLLECT_CAP={DIM_COLLECT_CAP}; "
            "use dim_frames_from_documents (DataFrame dims, no collect)"
        )
    return dims
