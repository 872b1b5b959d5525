"""Seeded input generation (the load generator). Runs before any Spark
session exists; the program under test only ever sees the parquet files
written here."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: word vocabulary of the contract test data's ``documents`` tables
#: (``sf0.1/documents.parquet``): 30 lowercase words, 24 of them at least
#: 4 letters long, so the dictionary ``kbspark.corpus`` derives has 24
#: titles
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


def write_documents(sf_dir: str, n_docs: int, seed: int) -> dict:
    """A ``documents.parquet`` (doc_id, text, lang, source, n_chars) of
    ``n_docs`` rows in ``sf_dir``: uniform word draws, 8-97 words a row
    (about 300 characters), fresh doc_ids 0..n-1. The row lengths are a
    seeded shuffle of one fixed set, so every seed has the same number of
    words."""
    rng = np.random.default_rng(seed)
    n_words = rng.permutation(8 + np.arange(n_docs) * 90 // n_docs)
    words = np.asarray(DOC_WORDS)[rng.integers(0, len(DOC_WORDS),
                                               size=int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    doc_ids = np.arange(n_docs, dtype=np.int64)
    df = pd.DataFrame({
        "doc_id": doc_ids,
        "text": texts,
        "lang": rng.choice(_LANGS, p=_LANG_P, size=n_docs),
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(sf_dir, exist_ok=True)
    df.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    # kbspark.corpus._doc_to_markup links word i of doc d when
    # (d * 1000003 + i * 101) % 17 is 0, 1 or 2 and the word has >= 4 letters
    mentions = 0
    for d, k in zip(doc_ids, n_words):
        i = np.arange(k)
        long_ = np.char.str_len(words[bounds[d]:bounds[d] + k]) >= 4
        mentions += int((((d * 1_000_003 + i * 101) % 17 <= 2) & long_).sum())
    return {
        "docs": n_docs,
        "text_mb": round(sum(len(t) for t in texts) / 1e6, 3),
        "vocab": sum(len(w) >= 4 for w in DOC_WORDS),
        "mentions_per_doc": round(mentions / n_docs, 3),
    }


def write_wiki_pages(path: str, quarter_path: str, n_pages: int, seed: int,
                     parts: int, **synth_kw) -> dict:
    """``kbspark.corpus.synth_corpus`` pages written as ``parts`` parquet
    files under the directory ``path`` (microsecond timestamps, which
    Spark reads), and their first quarter to the file ``quarter_path``
    (the single-task scaling input)."""
    from kbspark.corpus import synth_corpus

    df = synth_corpus(n_pages, seed=seed, **synth_kw)
    # several part files, as a crawl lands: one small file would be read
    # as a single split and the whole extract stage would run as one task
    os.makedirs(path)
    step = -(-n_pages // parts)
    for i in range(parts):
        df.iloc[i * step:(i + 1) * step].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False,
            coerce_timestamps="us")
    df.iloc[: n_pages // 4].to_parquet(quarter_path, index=False,
                                       coerce_timestamps="us")
    return {
        "docs": n_pages,
        "text_mb": round(df["text"].str.len().sum() / 1e6, 3),
        "vocab": synth_kw.get("n_entities", 200),
        "mentions_per_doc": round(df["text"].str.count(r"\[\[").mean(), 3),
    }
