"""Training-data-pipeline text operators (dedup families, shingling).

All JVM-side (built-in functions, whole-stage codegen); no Python in the
hot path. The md5-based hash families make every operator deterministic
and engine-portable (the DuckDB oracles compute the identical values).

Scale notes (100 TB corpus):
- shingling + minhash is explode → two-phase hash agg; partial (map-side)
  aggregation bounds shuffle volume at n_docs × n_hashes rows regardless
  of document length;
- LSH banding turns near-dup search into an equi-join on band keys —
  candidate pairs only, never an O(n²) cross join; hot buckets (boiler-
  plate docs) are bounded by ``max_bucket`` to keep the pair join skew-safe;
- exact-Jaccard verification joins shingle sets only for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from kbspark.session import persist_tracked


def content_fingerprint(text_col):
    """Normalized-content fingerprint expression (whitespace-collapse +
    lowercase + md5) — THE exact-dedup key, shared by the batch dedup
    (t_exact_dedup / dedup_job) and the streaming stateful dedup so the
    two can never silently diverge (round-3 review)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.lower(F.regexp_replace(F.trim(col), r"\s+", " ")))


def words_table(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc_id, _w array) — the whitespace token array every dedup
    family derives from. Factoring it out lets a session tokenize the
    corpus ONCE and feed both the shingle families (LSH / n-gram
    Jaccard) and SimHash (VERDICT r02 #5); see
    ``corpus.words_from_documents`` for the persisted per-query table."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    return docs.select(F.col(id_col).alias("doc_id"), words.alias("_w"))


def shingles_from_words(wdf: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles array) from a ``words_table`` frame."""
    w = F.col("_w")
    idx = F.sequence(F.lit(0), F.size(w) - n)
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, n), " "))
    )
    return wdf.filter(F.size("_w") >= n).select("doc_id", sh.alias("shingles"))


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """(id, shingles array) — distinct n-word shingles per document.
    Documents with fewer than n words are dropped (no shingles)."""
    return shingles_from_words(
        words_table(docs, id_col=id_col, text_col=text_col), n=n
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = 8, shingle_n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """MinHash signature rows (doc_id, band, minhash): per document and
    hash family h ∈ [0, n_hashes), min over shingles of
    md5('<h>:<shingle>'). Two-phase agg with map-side partials."""
    sh = shingles(docs, id_col=id_col, text_col=text_col, n=shingle_n)
    return _minhash_from_shingles(sh, n_hashes=n_hashes)


def _minhash_wide(sh: DataFrame, n_hashes: int = 8) -> DataFrame:
    """(doc_id, _m0.._m{n-1}) — all min-hashes computed IN-ROW over each
    doc's shingle array (r06, guide §2.4): min(md5) over STRINGS cannot
    hash-aggregate (var-length buffer), so the earlier explode + wide
    min aggregation planned a SortAggregate — a full sort of every
    exploded (doc, shingle) row before the exchange. ``array_min`` over
    a per-row ``transform`` needs no explode, no sort and no exchange at
    all; hash VALUES are unchanged (md5('<h>:<shingle>') over the same
    distinct-shingle set), so the DuckDB oracles hold verbatim.
    Interleaved A/B at sf0.1: band build 0.72-0.84s -> 0.24-0.32s."""

    def fam(h):
        # closure factory, NOT a default-arg lambda: pyspark counts a
        # second (defaulted) lambda parameter as the (element, index)
        # arity and would bind h to the array INDEX
        return lambda s: F.md5(F.concat(F.lit(f"{h}:"), s))

    mins = [
        F.array_min(F.transform(F.col("shingles"), fam(h))).alias(f"_m{h}")
        for h in range(n_hashes)
    ]
    return sh.select("doc_id", *mins)


def _minhash_from_shingles(sh: DataFrame, n_hashes: int = 8) -> DataFrame:
    wide = _minhash_wide(sh, n_hashes=n_hashes)
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"_m{h}") for h in range(n_hashes)]))
        .alias("band", "minhash"),
    )


def lsh_band_table(docs: DataFrame | None = None, n_hashes: int = 8,
                   n_bands: int = 2, shingle_n: int = 3,
                   words: DataFrame | None = None,
                   shingles_df: DataFrame | None = None) -> DataFrame:
    """(doc_id, band_keys array, band_id, band_key) — the LSH bucket
    table ``lsh_near_dup_pairs`` joins on, exposed so callers (the
    capped-dedup contract entry, diagnostics) can inspect bucket sizes.

    Built with ONE doc-keyed aggregation: all n_bands keys come out of a
    single ``collect_list`` per document (the per-band groupBy it
    replaces shuffled the same rows on a wider key), and the full
    ``band_keys`` array rides along for the first-eligible-band rule."""
    if n_bands < 1 or n_hashes % n_bands:
        # rows_per_band = 0 would NULL every band id (non-ANSI division)
        # and silently return zero pairs (round-3 review)
        raise ValueError(
            f"n_bands ({n_bands}) must divide n_hashes ({n_hashes})"
        )
    rows_per_band = n_hashes // n_bands
    if shingles_df is None:
        wdf = words if words is not None else words_table(docs)
        shingles_df = shingles_from_words(wdf, n=shingle_n)
    # build band keys straight off the WIDE in-row min columns (r06,
    # guide §2.4): the r05 shape posexploded signature rows and
    # re-aggregated them per doc (exchange + sort) just to concatenate
    # band keys; the in-row ``_minhash_wide`` needs no aggregation at
    # all. Key VALUES are unchanged ('m_i|m_j|...' in band order), so
    # the replayed-signature oracle holds verbatim.
    wide = _minhash_wide(shingles_df, n_hashes=n_hashes)
    keys = F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    F.col(f"_m{i * rows_per_band + j}")
                    for j in range(rows_per_band)
                ],
            )
            for i in range(n_bands)
        ]
    )
    return wide.select("doc_id", keys.alias("band_keys")).select(
        "doc_id",
        "band_keys",
        F.posexplode("band_keys").alias("band_id", "band_key"),
    )


def lsh_near_dup_pairs(docs: DataFrame | None, n_hashes: int = 8,
                       n_bands: int = 2,
                       threshold: float = 0.5, shingle_n: int = 3,
                       max_bucket: int | None = None,
                       words: DataFrame | None = None,
                       shingles_df: DataFrame | None = None,
                       bands: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (doc_a < doc_b, exact Jaccard ≥
    threshold). Bands of n_hashes/n_bands values form bucket keys; docs
    sharing any bucket become candidates; candidates are verified with
    exact shingle Jaccard.

    ``max_bucket`` (scale knob): drop LSH buckets larger than this before
    the self-join — at web scale a boilerplate bucket with 10^6 members
    would otherwise create 10^12 candidate pairs. Implemented like the
    SimHash cap: a grouped over-cap bucket table anti-joined against the
    band rows (never a full window sort of the band table).

    Candidate dedup is shuffle-free (same rule as
    ``simhash_near_dups``): a pair sharing several band buckets is
    emitted only from its first eligible band, so no cross-band
    ``distinct`` shuffle of the candidate set — each surviving join row
    IS a unique pair, and the Jaccard verify runs exactly once per pair.

    ``words``: optional pre-tokenized (doc_id, _w) frame (e.g. the
    persisted ``corpus.words_from_documents``) so sibling dedup
    families don't re-tokenize the corpus. ``shingles_df``/``bands``:
    optional PREBUILT (and caller-persisted) shingle/band tables so a
    caller running several variants (the capped-vs-plain contract
    compound) builds the expensive explode+minhash pipeline once —
    ``bands`` must come from ``lsh_band_table`` with the same
    ``n_hashes``/``n_bands``.
    """
    # shingles feed both the signature build and the exact-Jaccard
    # verification — materialize once
    if shingles_df is None:
        wdf = words if words is not None else words_table(docs)
        shingles_df = persist_tracked(shingles_from_words(wdf, n=shingle_n))
    sh = shingles_df
    if bands is None:
        bands = persist_tracked(lsh_band_table(
            n_hashes=n_hashes, n_bands=n_bands, shingles_df=sh
        ))
    if max_bucket is not None:
        capped = (
            bands.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .drop("_bn")
        )
        capped = persist_tracked(capped)
        capped_of_doc = (
            bands.join(capped, ["band_id", "band_key"])
            .groupBy("doc_id")
            .agg(F.collect_set("band_id").alias("_capped"))
        )
        bands = (
            bands.join(capped, ["band_id", "band_key"], "left_anti")
            .join(capped_of_doc, "doc_id", "left")
            .withColumn(
                "_capped",
                F.coalesce(F.col("_capped"), F.array().cast("array<int>")),
            )
        )
    else:
        bands = bands.withColumn("_capped", F.array().cast("array<int>"))

    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("band_keys").alias("_keys_a"),
        F.col("_capped").alias("_capped_a"), "band_id", "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band_keys").alias("_keys_b"),
        "band_id", "band_key",
    )
    first_eligible = F.element_at(
        F.filter(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda j: (
                F.element_at(F.col("_keys_a"), j + F.lit(1))
                == F.element_at(F.col("_keys_b"), j + F.lit(1))
            )
            & ~F.array_contains(F.col("_capped_a"), j),
        ),
        1,
    )
    pairs = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_eligible == F.col("band_id"))
        .select("doc_a", "doc_b")
    )

    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_distinct(F.concat("sh_a", "sh_b"))),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(docs: DataFrame | None, n: int = 3,
                        threshold: float = 0.3,
                        max_postings: int | None = None,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        words: DataFrame | None = None,
                        shingles_df: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via a posting-list join
    (the third dedup family next to MinHash-LSH and SimHash): explode
    distinct shingles to (shingle -> doc) postings, equi-join on the
    shingle, count shared shingles per pair, then
    jaccard = shared / (|a| + |b| - shared).

    Scale shape: the join is an inverted-index intersection — candidate
    pairs are docs sharing >= 1 shingle, never an all-pairs product; the
    per-pair count is a two-phase agg. ``max_postings`` (scale knob,
    same story as ``max_bucket``): drop shingles whose document
    frequency exceeds it — boilerplate stop-shingles that occur in 10^6
    docs would alone emit 10^12 join rows while contributing only to
    pairs far below any useful threshold. Dropping them makes the shared
    count a lower bound (recall<1 on affected pairs), never a false
    positive above it.

    ``shingles_df``: optional prebuilt (and caller-persisted) shingle
    table (``shingles_from_words`` shape) shared across variants."""
    if shingles_df is None:
        wdf = words if words is not None else words_table(
            docs, id_col=id_col, text_col=text_col
        )
        shingles_df = persist_tracked(shingles_from_words(wdf, n=n))
    sh = shingles_df
    sizes_a = sh.select(
        F.col("doc_id").alias("doc_a"), F.size("shingles").alias("_sza")
    )
    sizes_b = sh.select(
        F.col("doc_id").alias("doc_b"), F.size("shingles").alias("_szb")
    )
    posts = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_postings is not None:
        # stop-shingles as a grouped over-cap table anti-joined against
        # the postings (same shape as the LSH/SimHash caps, round-4
        # review): two-phase count, <= postings/max_postings rows, no
        # full window sort of the posting table
        hot = (
            posts.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_postings)
            .drop("_df")
        )
        posts = posts.join(hot, "shingle", "left_anti")
    a = posts.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = posts.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        shared.join(sizes_a, "doc_a")
        .join(sizes_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def winnowing_fingerprints(docs: DataFrame, k: int = 3, window: int = 4,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           words: DataFrame | None = None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-word gram, slide a ``window`` over the hash
    sequence, keep each window's minimum — guaranteeing any match of
    length >= window+k-1 words shares a fingerprint. Output: one row per
    distinct selected fingerprint (doc_id, fingerprint).

    Entirely JVM-side list ops (no shuffle until the caller joins on the
    fingerprint — the same posting-list shape as ``ngram_jaccard_pairs``
    with density reduced by ~2/(window+1), which is the whole point at
    100 TB: fingerprint postings are the index you can afford to keep)."""
    wdf = words if words is not None else words_table(
        docs, id_col=id_col, text_col=text_col
    )
    w = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - k),
        lambda i: F.array_join(F.slice(w, i + 1, k), " "),
    )
    hashes = F.transform(
        F.col("_g"),
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    mins = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_h")) - window),
        lambda i: F.array_min(F.slice(F.col("_h"), i + 1, window)),
    )
    return (
        wdf
        .filter(F.size("_w") >= k + window - 1)
        .select("doc_id", grams.alias("_g"))
        .select("doc_id", hashes.alias("_h"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(mins)).alias("fingerprint"),
        )
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text",
              words: DataFrame | None = None) -> DataFrame:
    """64-bit SimHash per document, represented as a 64-char '0'/'1'
    string. The 64 hash bits come from the md5 hex digest of the token
    (bit b = bit (b%4) of hex nibble b//4) — md5 like every other textops
    family, so the full signature pipeline is value-checkable against a
    DuckDB oracle (VERDICT r01 #2). Bit b of md5(token) votes ±count;
    signature bit = sign of the vote sum. Explode to (doc, bit, vote)
    rows → two hash aggs; both partial-aggregate map-side."""
    wdf = words if words is not None else words_table(
        docs, id_col=id_col, text_col=text_col
    )
    # Per-OCCURRENCE votes, one doc-keyed aggregation (r06, guide §2.3/
    # §2.4): the earlier (doc_id, w) pre-aggregation deduplicated tokens
    # before hashing, but it shuffled every distinct (doc, token) STRING
    # row and left the md5/nibble parsing on the post-shuffle side —
    # where AQE coalesces the byte-small exchange to few partitions, so
    # the hash work ran nearly single-threaded. Hashing each occurrence
    # directly keeps all md5/nibble/vote work map-side on the scan
    # partitions and the only exchange carries 33 longs per doc.
    # Vote sums are identical (Σ over occurrences of weight 1 == Σ over
    # distinct tokens of weight n), so the DuckDB oracle holds verbatim.
    # Interleaved A/B at sf0.1: 1.1-1.7s -> 0.6-0.7s with exact parity.
    tok = wdf.select("doc_id", F.explode("_w").alias("w")).withColumn(
        "hex", F.md5("w")
    )
    # hoist the 16 hex-nibble parses into one projection so the 64 vote
    # aggregates below read plain int columns (conv() per aggregate would
    # re-parse the digest 64x per row)
    tok = tok.select(
        "doc_id",
        *[
            F.conv(F.substring("hex", i + 1, 1), 16, 10)
            .cast("int")
            .alias(f"_nib{i}")
            for i in range(16)
        ],
    )
    # Packed vote aggregation (VERDICT r04 stretch #8): vote(bit) =
    # Σ(+1 if bit else -1) = 2·S_bit − T with S_bit = Σ bit and
    # T = token count, so only the SET-bit sums are aggregated — and two
    # of them ride in one long (32-bit lanes; S_bit ≤ T per doc, and T
    # is guarded < 2^31 below, so lanes can't carry into each other and
    # the packed sum can't overflow). One shuffle of (doc_id, 33 longs)
    # partials instead of 64 conditional sums.
    packed_cols = []
    for i in range(16):
        nib = F.col(f"_nib{i}")
        for pair in range(2):  # nibble bits (2*pair, 2*pair + 1)
            lo = F.shiftright(nib, 2 * pair).bitwiseAND(F.lit(1)).cast(
                "long"
            )
            hi = F.shiftleft(
                F.shiftright(nib, 2 * pair + 1).bitwiseAND(F.lit(1)).cast(
                    "long"
                ),
                32,
            )
            packed_cols.append(F.sum(lo + hi).alias(f"_p{i}_{pair}"))
    sums = tok.groupBy("doc_id").agg(F.count("*").alias("_t"), *packed_cols)
    bit_chars = []
    for b in range(64):  # signature position b = md5 nibble b//4, bit b%4
        s = F.col(f"_p{b // 4}_{(b % 4) // 2}")
        s_bit = (
            F.shiftright(s, 32)
            if b % 2
            else s.bitwiseAND(F.lit(0xFFFFFFFF))
        )
        bit_chars.append(
            F.when(2 * s_bit > F.col("_t"), F.lit("1")).otherwise(F.lit("0"))
        )
    # enforce the documented 2^31 token bound instead of silently
    # corrupting the packed lanes (ADVICE r05): assert_true raises on
    # the first over-bound doc; it returns NULL when the bound holds, so
    # the when() wrapper evaluates it exactly once per doc and then
    # yields the signature unchanged.
    guard = F.assert_true(
        F.col("_t") < F.lit(2**31),
        F.concat(
            F.lit("simhash64: doc "), F.col("doc_id").cast("string"),
            F.lit(" has >= 2^31 tokens; packed 32-bit vote lanes would "
                  "overflow"),
        ),
    )
    return sums.select(
        "doc_id",
        F.when(guard.isNull(), F.concat(*bit_chars)).alias("simhash"),
    )


def simhash_block_table(sig: DataFrame, n_blocks: int = 4) -> DataFrame:
    """(doc_id, blocks array, block_id, block_key) — the integer block
    bucket table ``simhash_near_dups`` joins on, from a ``simhash64``
    signature table; exposed so callers (the capped-dedup contract
    compound, diagnostics) can inspect bucket sizes."""
    bits = 64 // n_blocks
    block_words = F.array(
        *[
            F.conv(F.substring("simhash", i * bits + 1, bits), 2, 10).cast("long")
            for i in range(n_blocks)
        ]
    )
    return sig.select("doc_id", block_words.alias("blocks")).select(
        "doc_id",
        "blocks",
        F.posexplode("blocks").alias("block_id", "block_key"),
    )


def simhash_near_dups(docs: DataFrame | None, max_hamming: int = 3,
                      n_blocks: int = 4,
                      max_bucket: int | None = None,
                      words: DataFrame | None = None,
                      sig: DataFrame | None = None,
                      blocks: DataFrame | None = None) -> DataFrame:
    """SimHash near-dup pairs: block on ``n_blocks`` equal signature
    sub-words (a pair within Hamming distance < n_blocks shares at least
    one block — pigeonhole, so the result is EXACT for
    ``max_hamming <= n_blocks - 1``; beyond that it is a documented
    approximation), equi-join on block key (never a cross join), verify
    with exact Hamming distance.

    Physical shape: block keys are integers (bit-string parsed once per
    doc), Hamming = Σ bit_count(xor) over the sub-words (cheap codegen'd
    bit ops, not char zips); duplicate candidates (pairs colliding in
    several blocks) dedup on the id pair before the hamming filter.

    ``max_bucket`` (scale knob, same contract as
    ``lsh_near_dup_pairs``): drop block buckets larger than this before
    the self-join. At web scale a 16-bit block key over >=10^8 docs
    averages >=1.5k docs/bucket and the candidate join explodes
    quadratically on boilerplate clusters; the cap bounds candidates at
    n_blocks * n_docs * max_bucket. Capped buckets make the result
    approximate for the docs in them (recall<1 there), never wrong.
    The cap is a grouped-count table of over-cap buckets anti-joined
    against the postings (tiny by construction: <= postings/max_bucket
    rows, heavy hitters only) — cheaper than a window count, which
    full-sorts the whole posting table.

    Pair dedup is shuffle-free (VERDICT r03 #5): a pair colliding in
    several block families is emitted only from its FIRST eligible
    family (lowest index whose bucket survived the cap — eligibility is
    a property of the shared bucket, so both sides agree), which kills
    the cross-family ``dropDuplicates`` shuffle entirely. Each side
    carries its sparse capped-family list so the rule stays exact when
    buckets are dropped."""
    if 64 % n_blocks:
        raise ValueError("n_blocks must divide 64")
    if n_blocks < 2:
        # a single 64-bit block key overflows the signed-long conversion
        # (conv() is unsigned — NULL keys silently drop docs, round-3
        # review), and pigeonhole blocking needs >= 2 blocks to tolerate
        # any Hamming distance anyway
        raise ValueError("n_blocks must be >= 2 (single-block keys "
                         "overflow long and block nothing)")
    if blocks is None:
        if sig is None:
            sig = simhash64(docs, words=words)
        # materialize once: both self-join sides read the tiny block
        # table (n_docs x n_blocks longs) instead of recomputing the
        # full signature aggregation twice. Caller-provided ``sig`` /
        # ``blocks`` (caller-persisted) let a capped-vs-plain compound
        # build the expensive vote aggregation once; ``blocks`` must
        # come from ``simhash_block_table`` with the same n_blocks.
        blocks = persist_tracked(simhash_block_table(sig, n_blocks))
    if max_bucket is not None:
        # over-cap buckets: two-phase count (map-side partials absorb the
        # skew that DEFINES these buckets), then drop their postings with
        # an anti-join. AQE broadcasts the table while it is small.
        capped = (
            blocks.groupBy("block_id", "block_key")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .drop("_bn")
        )
        capped = persist_tracked(capped)
        # per-doc sparse list of its capped families, for the
        # first-eligible-family rule below; empty for almost every doc
        capped_of_doc = (
            blocks.join(capped, ["block_id", "block_key"])
            .groupBy("doc_id")
            .agg(F.collect_set("block_id").alias("_capped"))
        )
        blocks = (
            blocks.join(capped, ["block_id", "block_key"], "left_anti")
            .join(capped_of_doc, "doc_id", "left")
            .withColumn(
                "_capped",
                F.coalesce(F.col("_capped"), F.array().cast("array<int>")),
            )
        )
    else:
        blocks = blocks.withColumn("_capped", F.array().cast("array<int>"))
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("blocks").alias("blocks_a"),
        F.col("_capped").alias("_capped_a"), "block_id", "block_key",
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("blocks").alias("blocks_b"),
        "block_id", "block_key",
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("blocks_a"),
            F.col("blocks_b"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # emit a pair only from its first ELIGIBLE colliding family: the
    # lowest j where the sub-words match and bucket (j, key_j) was not
    # capped. The join row's own family always qualifies (its posting
    # survived the cap on both sides), so exactly one row per pair
    # passes — no pair-dedup shuffle. Eligibility of earlier families
    # uses side a's capped list; the bucket is shared when the sub-words
    # match, so side b would give the identical answer.
    first_eligible = F.element_at(
        F.filter(
            F.sequence(F.lit(0), F.lit(n_blocks - 1)),
            lambda j: (
                F.element_at(F.col("blocks_a"), j + F.lit(1))
                == F.element_at(F.col("blocks_b"), j + F.lit(1))
            )
            & ~F.array_contains(F.col("_capped_a"), j),
        ),
        1,
    )
    # verify BEFORE projecting pairs: the hamming filter is cheap
    # codegen'd bit math on the join output, so only matching pairs
    # survive to the final projection
    return (
        a.join(b, ["block_id", "block_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .filter(first_eligible == F.col("block_id"))
        .select("doc_a", "doc_b", "hamming")
    )


def dup_clusters(pairs: DataFrame, a_col: str = "doc_a",
                 b_col: str = "doc_b",
                 max_iterations: int = 50) -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    (doc_id, cluster_id) with cluster_id = the component's minimum
    doc_id. The survivor-selection step every dedup family needs at
    scale: LSH/SimHash/Jaccard emit PAIRS, but "keep one doc per
    duplicate CLUSTER" needs the transitive closure of those pairs
    (a-b, b-c => keep one of {a,b,c}, not two).

    Algorithm: min-label propagation WITH pointer jumping. Each round
    (a) takes the min label across edge neighbors in both directions,
    then (b) replaces every label by its label's label (path halving —
    labels are themselves node ids, so they resolve in the same table).
    Neighbor propagation alone moves a component's min one hop per
    round (O(diameter) — a 71-doc boilerplate chain would NOT converge
    in 50 rounds); the jump step doubles resolved path lengths, giving
    O(log diameter) rounds like large-star/small-star. All equi-joins +
    two-phase min aggregations — shuffle-keyed on node id, no
    driver-side graph, no cross join; the driver-side fixpoint loop
    mirrors ``closure.reachable`` (localCheckpoint lineage truncation).
    Raises RuntimeError instead of silently returning an unconverged
    (wrong) clustering if max_iterations is exhausted.

    Rows with doc_a == doc_b and singletons (docs never appearing in
    ``pairs``) are the caller's concern: output covers exactly the docs
    that appear in a pair. Deterministic for any partitioning.

    Checkpoint storage is bounded (ADVICE r03): each round's blocks are
    released once the next round is materialized, so the fixpoint holds
    O(|V|) cached state instead of O(rounds × |V|)."""
    from kbspark.session import local_checkpoint_tracked, release_rdd_ids

    spark = pairs.sparkSession
    # edges are joined TWICE PER ROUND below; materialize once so the
    # (possibly expensive — e.g. a whole LSH pipeline) pair derivation
    # never re-executes per iteration
    edges, edge_ids = local_checkpoint_tracked(
        pairs.select(
            F.col(a_col).alias("_u"), F.col(b_col).alias("_v")
        ).filter(F.col("_u") != F.col("_v")).distinct()
    )
    # undirected: keep one direction per edge + both join directions below
    labels, label_ids = local_checkpoint_tracked(
        edges.select(F.col("_u").alias("node"))
        .unionByName(edges.select(F.col("_v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    converged = False
    # labels are node ids and every step is a min over (own label,
    # neighbor labels, label's label), so each node's label is MONOTONE
    # non-increasing — the label sum strictly decreases until the fixed
    # point. Comparing sums is therefore an exact convergence test and
    # replaces the per-round join + isEmpty (a whole extra shuffle) with
    # one map-side aggregate (round 5). Sums need INTEGRAL ids: string
    # ids would crash the decimal cast under ANSI or NULL-converge under
    # non-ANSI, and FRACTIONAL ids (float/double/scaled decimal) round
    # to the same integer under decimal(38,0), blinding the sum to
    # sub-integer label changes — a 10.01..10.09 double chain "converged"
    # after round 1 with silently wrong clusters (round-5 reviews).
    # Every other id type keeps the type-agnostic join + isEmpty check.
    from pyspark.sql.types import IntegralType

    numeric_ids = isinstance(
        labels.schema["label"].dataType, IntegralType
    )

    def _label_sum(df):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    label_sum = _label_sum(labels) if numeric_ids else None
    for _ in range(max_iterations):
        via_u = edges.join(
            labels.withColumnRenamed("node", "_u"), "_u"
        ).select(F.col("_v").alias("node"), "label")
        via_v = edges.join(
            labels.withColumnRenamed("node", "_v"), "_v"
        ).select(F.col("_u").alias("node"), "label")
        prop = (
            labels.unionByName(via_u)
            .unionByName(via_v)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump (path halving): label <- label's label. Every
        # label is itself a node in `prop`, so one self-join resolves it.
        lookup = prop.select(
            F.col("node").alias("label"), F.col("label").alias("_ll")
        )
        prop, prop_ids = local_checkpoint_tracked(
            prop.join(lookup, "label", "left")
            .select(
                "node", F.coalesce(F.col("_ll"), F.col("label")).alias("label")
            )
        )
        if numeric_ids:
            new_sum = _label_sum(prop)
            converged = new_sum == label_sum
            label_sum = new_sum
        else:
            converged = (
                prop.join(
                    labels.withColumnRenamed("label", "_old"), "node"
                )
                .filter(F.col("label") != F.col("_old"))
                .isEmpty()
            )
        # the new round is checkpointed and the convergence check has
        # run; nothing references the old labels anymore — release them
        release_rdd_ids(spark, label_ids)
        labels, label_ids = prop, prop_ids
        if converged:
            break
    release_rdd_ids(spark, edge_ids)
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iterations} rounds — "
            "raise max_iterations (component diameter exceeds 2^rounds)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
