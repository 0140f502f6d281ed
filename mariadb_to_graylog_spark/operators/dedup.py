"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (it has no dedup); these are the first-class
extensions a 100 TB transcript/document corpus needs.  Design rules:

* all hashing is *portable* (md5-derived 32-bit values) so results are
  engine-independent and oracle-checkable;
* signatures are codegen'd aggregates over exploded shingles (one
  narrow exchange of id + num_hashes longs, partial-agg collapsed
  map-side); the exchange doubles as the reuse point that keeps a
  self-join from recomputing them per side -- see
  ``minhash_signatures`` for the measured rationale;
* candidate generation (LSH banding) shuffles only (band, signature,
  doc_id) tuples, never document text;
* exact dedup is a hash groupBy (partial agg absorbs duplicates map-side);
* a bounded-corpus native fast path and its distributed twin are chosen
  in ONE place, :func:`_bounded_collect`, against the caps below.
"""

from __future__ import annotations

import threading
import weakref

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MERSENNE31 = 2147483647

# driver-side caps of the native fast paths (rows collected to pandas)
_NATIVE_MAX_DOCS = 600_000
_NATIVE_MAX_EDGES = 2_000_000


def _bounded_collect(df: DataFrame, cap: int) -> pd.DataFrame | None:
    """``df`` as pandas when it holds at most ``cap`` rows, else None --
    the one native-vs-distributed decision of every bounded fast path
    (None means: run the distributed plan).  Guard and collect are ONE
    action: ``limit(cap + 1)`` stops early on over-cap input, and a
    caller whose input is an expensive derived lineage pays for it once
    instead of a count() pass plus a second collect pass."""
    pdf = df.limit(cap + 1).toPandas()
    return None if len(pdf) > cap else pdf


def h32(c: Column) -> Column:
    """Portable 32-bit hash: first 8 hex digits of md5, as a long.
    Identical in DuckDB: ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def h60(c: Column) -> Column:
    """Portable 60-bit hash (15 hex digits of md5): wide enough for banded
    SimHash, still fits a signed 64-bit long in both engines."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def char_ngrams(c: Column, n: int = 3, distinct: bool = True) -> Column:
    """Character n-grams via sequence+substr (no UDF).  Short strings
    yield their whole prefix window (greatest(len-n+1, 1))."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.array_distinct(grams) if distinct else grams


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(deduped, groups): keep the min-id doc per identical text.

    Grouping key is md5(text), not text itself, so the shuffle carries
    32-byte keys instead of documents.
    """
    keyed = df.withColumn("_h", F.md5(F.col(text_col)))
    groups = keyed.groupBy("_h").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("keep_id"),
    )
    deduped = (
        keyed.join(groups.select("_h", "keep_id"), "_h")
        .filter(F.col(id_col) == F.col("keep_id"))
        .drop("_h", "keep_id")
    )
    return deduped, groups.withColumnRenamed("_h", "text_hash")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard within a blocking key.

    A SMALL-BLOCK VERIFIER only: the join is quadratic in the block size,
    and the natural block keys (lang) do not bound the block at corpus
    scale.  The default near-dup path is ``lsh_jaccard_verified`` --
    identical Jaccard semantics, computed on LSH candidates only.
    """
    g = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        char_ngrams(F.col(text_col), n).alias("grams"),
    )
    a = g.select(F.col("id").alias("id_a"), F.col("blk"), F.col("grams").alias("g_a"))
    b = g.select(F.col("id").alias("id_b"), F.col("blk"), F.col("grams").alias("g_b"))
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    jac = inter / union
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    # deterministic odd multipliers / offsets; products stay < 2^40
    return [(2 * j + 3, 7919 * (j + 1)) for j in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures as codegen aggregates: explode shingle
    positions, hash each shingle (h32), then num_hashes ``min((a_j*h +
    b_j) mod M31)`` aggregates in ONE groupBy(id).  Identical output to
    ``minhash_signatures_hof`` (tested): min over duplicates equals min
    over distinct shingles, so the distinct step drops out entirely.

    Ids must be UNIQUE (one row per id) -- the module-wide caller
    contract.  On duplicate-id input the two engines diverge loudly
    differently: this groupBy collapses the rows into ONE signature over
    the union of their shingles, while the HOF twin emits one signature
    per row; neither is a meaningful MinHash of anything, so deduplicate
    ids (or re-key) before calling.

    Why not the HOF shape: interpreted lambda passes (num_hashes per
    unit, no codegen, no CSE) were the measured hotspot of every LSH
    chain, and worse, a broadcast self-join RE-COMPUTES them per side
    (broadcast builds have no exchange to reuse).  Here the whole
    expensive lineage sits BELOW the groupBy exchange, which Spark's
    ReuseExchange shares across self-join sides -- signatures are
    computed once per query, not once per consumer.  The extra shuffle
    is narrow (id + num_hashes longs per row, partial-agg collapsed
    map-side), the same width the banding explode shuffles anyway."""
    t = F.col(text_col)
    # explode_outer, not explode: a NULL text yields a NULL position row
    # (-> NULL sigs), preserving the id in the output exactly like the
    # HOF twin; plain explode would silently drop the document
    pos = df.select(
        F.col(id_col).alias("id"),
        t.alias("_t"),
        F.explode_outer(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (shingle_n - 1), F.lit(1)))
        ).alias("_i"),
    )
    h = pos.select(
        "id", h32(F.col("_t").substr(F.col("_i"), F.lit(shingle_n))).alias("_h")
    )
    aggs = [
        F.min((F.col("_h") * a + b) % MERSENNE31).alias(f"mh_{j}")
        for j, (a, b) in enumerate(_hash_params(num_hashes))
    ]
    return h.groupBy("id").agg(*aggs)


def minhash_signatures_hof(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    num_hashes: int = 16,
) -> DataFrame:
    """Reference twin of ``minhash_signatures``: fully map-side
    (higher-order functions, no explode/shuffle): hashes = h32 per
    distinct shingle, sig_j = min((a_j*h + b_j) mod M31).  Kept as the
    readable oracle-shaped implementation and for contexts where an
    aggregation is unwelcome (e.g. per-row signatures in a stream);
    the interpreted HOF passes make it the slow path for batch LSH."""
    hashes = F.transform(char_ngrams(F.col(text_col), shingle_n), h32)

    # NB: plain single-parameter closures -- a lambda with default args
    # (lambda h, a=a: ...) is seen by PySpark as a 2/3-ary lambda and binds
    # the array *index* to the extra parameter (observed failure mode).
    def _perm(a: int, b: int):
        return lambda h: (h * a + b) % MERSENNE31

    sig_cols = [
        F.array_min(F.transform(F.col("_hashes"), _perm(a, b))).alias(f"mh_{j}")
        for j, (a, b) in enumerate(_hash_params(num_hashes))
    ]
    return df.select(F.col(id_col).alias("id"), hashes.alias("_hashes")).select(
        "id", *sig_cols
    )


def lsh_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, sig) bucket assignments.  The band key is a STRUCT of the
    band's minhash longs -- bucket membership is exact tuple equality, with
    no string materialization (the earlier concat_ws key built and hashed a
    ~40-char string per (doc, band); structs of longs join on raw 8-byte
    comparisons and cannot collide, unlike hashing the tuple to one long).
    Signatures come from the codegen aggregate (``minhash_signatures``):
    an Arrow-UDF signature engine measured faster in isolation but ~0.5 s
    SLOWER end-to-end on the LSH chains at sf1.0, because the aggregate's
    exchange is what the self-join sides reuse."""
    sigs = minhash_signatures(df, id_col, text_col, shingle_n, bands * rows_per_band)
    band_structs = F.array(
        *[
            F.struct(
                *[
                    F.col(f"mh_{b * rows_per_band + r}").alias(f"s{r}")
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.posexplode(band_structs).alias("band", "sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: band the signature, bucket-join on
    (band, band_sig struct).  Shuffle carries only (band, sig, id).

    ``rows_per_band`` sets the similarity knee (~(1/bands)^(1/rows)): 4
    rows -> ~0.71, 8 rows -> ~0.84.  On self-similar corpora (template
    text, tiny vocabularies) low-row bands produce degenerate buckets whose
    B^2/2 candidate pairs dominate the whole job -- prefer more rows per
    band, and/or ``max_bucket_size`` to drop degenerate buckets outright
    (a bucket that big is not "near-duplicate pairs", it's a cluster; route
    clusters through ``exact_dedup`` or a groups operator instead).  Use
    ``lsh_bucket_stats`` to size/report the cap -- dropping is never
    silent: the stats expose exactly how many buckets/pairs a cap removes.
    """
    buckets = lsh_buckets(df, id_col, text_col, shingle_n, bands, rows_per_band)
    return _bucket_pairs(buckets, ["band", "sig"], max_bucket_size)


def _bucket_pairs(
    buckets: DataFrame, key_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """(id_a < id_b) pairs per bucket via a self-equi-join on the bucket
    key.  The expensive signature lineage is computed ONCE: AQE reuses the
    shuffle query stage for both join sides (verified by stage counts --
    one signature map stage per run), so the join costs one exchange, two
    reads.  A per-bucket collect_list + combination-emit variant was
    measured 2.5x SLOWER at bench scale (interpreted HOF combinatorics vs
    codegen'd hash join) and was reverted."""
    if max_bucket_size is not None:
        # sizes groupBy shares the same reused exchange as the join sides
        sizes = buckets.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_bn"))
        buckets = buckets.join(
            sizes.filter(F.col("_bn") <= max_bucket_size), key_cols
        ).drop("_bn")
    a = buckets.select(F.col("id").alias("id_a"), *key_cols)
    b = buckets.select(F.col("id").alias("id_b"), *key_cols)
    return (
        a.join(b, key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def shared_ngram_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 15,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """EXACT substring dedup, Lee et al. "Deduplicating Training Data"
    shape: two documents share a VERBATIM run of >= ``n`` tokens iff they
    share at least one ``n``-token gram, so the pair set is a bucket join
    on gram hashes.  (id_a, id_b, n_shared_grams) per pair -- a shared run
    of length L >= n contributes L - n + 1 grams, so n_shared_grams is a
    proxy for total verbatim overlap; maximal run EXTENTS (the suffix-array
    output) are recovered by ``shared_run_extents`` -- a pair-local
    gaps-and-islands pass, cheap because the pair set is tiny relative to
    the corpus.

    This is ``decontam.word_ngram_hashes`` generalized from
    eval-vs-corpus to CORPUS-VS-CORPUS: nothing is broadcast or
    collected -- grams are computed map-side with higher-order functions
    and the only shuffle carries (8-byte gram hash, id) tuples, never
    text.  ``max_bucket_size`` drops degenerate grams (boilerplate shared
    by thousands of docs would emit B^2/2 pairs; such a gram is a CLUSTER
    signal, not a pair signal -- route it through paragraph/exact dedup)."""
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_hashes

    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngram_hashes(F.col(text_col), n)).alias("h"),
    )
    if max_bucket_size is not None:
        sizes = grams.groupBy("h").agg(F.count(F.lit(1)).alias("_bn"))
        grams = grams.join(
            sizes.filter(F.col("_bn") <= max_bucket_size), "h"
        ).drop("_bn")
    a = grams.select(F.col("id").alias("id_a"), "h")
    b = grams.select(F.col("id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def cdc_chunks(c: Column, window: int = 8, boundary_mod: int = 64) -> Column:
    """Content-defined chunking: split the normalized text at positions
    where the ``window``-char Rabin-Karp rolling hash is divisible by
    ``boundary_mod`` (expected chunk length ~= boundary_mod chars).
    Boundaries depend only on LOCAL content, so an insertion early in a
    page shifts every byte offset yet leaves all later chunk boundaries
    -- and hence later chunks' hashes -- intact: the property that makes
    chunk-level dedup robust where fixed-width blocks and
    paragraph-splitting both fail (no blank-line structure needed).
    Returns the array of non-empty chunk strings; empty/whitespace text
    yields an empty array.

    Same hash as ``textstats.rolling_hash_shingles`` (0-seeded fold, so
    the DuckDB twin is bit-identical); the whole expression is nested
    HOFs with every reused level bound once (no CSE in interpreted
    lambdas): text -> char codes -> window hashes -> cut positions ->
    substring chunks."""
    from mariadb_to_graylog_spark.operators.textstats import (
        bind_once,
        normalize_text,
    )

    base, mod = 31, 1_000_003

    def _with_s(s: Column) -> Column:
        def _with_hs(hs: Column) -> Column:
            cuts = F.transform(
                F.filter(
                    F.sequence(F.lit(1), F.size(hs)),
                    lambda i: F.element_at(hs, i) % boundary_mod == 0,
                ),
                lambda i: i + (window - 1),  # char index the window ends on
            )

            def _with_cuts(cutc: Column) -> Column:
                starts = F.concat(
                    F.array(F.lit(1)), F.transform(cutc, lambda p: p + 1)
                )
                ends = F.concat(cutc, F.array(F.length(s)))
                return F.filter(
                    F.zip_with(
                        starts,
                        ends,
                        lambda a, b: F.substr(s, a, F.greatest(b - a + 1, F.lit(0))),
                    ),
                    lambda ch: F.length(ch) > 0,
                )

            return bind_once(cuts, _with_cuts)

        codes = F.transform(F.split(s, ""), F.ascii)

        def _hashes(cs: Column) -> Column:
            return F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(cs) - (window - 1), F.lit(1))
                ),
                lambda i: F.aggregate(
                    F.slice(cs, i, window),
                    F.lit(0).cast("long"),
                    lambda acc, v: (acc * base + v) % mod,
                ),
            )

        hs = bind_once(codes, _hashes)
        return F.when(F.length(s) > 0, bind_once(hs, _with_hs)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(normalize_text(c), _with_s)


def cdc_chunks_py(
    text: str | None,
    window: int = 8,
    boundary_mod: int = 64,
    base: int = 31,
    mod: int = 1_000_003,
) -> list[str]:
    """Pure-Python/numpy kernel of ``cdc_chunks_pandas`` -- identical
    chunks to the JVM HOF expression (same normalize -> codepoint ->
    vectorized rolling fold -> boundary cuts -> slices), exposed for
    property tests.  Same portability caveats as ``winnow_sketch_py``
    (Python vs Java lower() on exotic codepoints; ASCII-pinned \\s)."""
    import re as _re

    import numpy as np

    s = _re.sub(r"\s+", " ", (text or "").lower(), flags=_re.ASCII).strip()
    if not s:
        return []
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = codes.size
    npos = max(n - window + 1, 1)
    h = np.zeros(npos, dtype=np.int64)
    for j in range(min(window, n)):
        h = (h * base + codes[j : j + npos]) % mod
    cut_ends = (np.nonzero(h % boundary_mod == 0)[0] + window).tolist()
    starts = [0] + cut_ends
    ends = cut_ends + [n]
    return [s[a:b] for a, b in zip(starts, ends) if b > a]


def cdc_chunks_pandas(window: int = 8, boundary_mod: int = 64):
    """Arrow-batched numpy twin of ``cdc_chunks``: identical chunk
    strings, the rolling hash vectorized to ``window`` numpy ops per
    document instead of len x window interpreted lambda steps -- the
    chunker of ``cdc_chunk_stats`` (the HOF expression remains
    the oracle reference; equality asserted in tests)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: cdc_chunks_py(t, window, boundary_mod))

    return udf


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    boundary_mod: int = 64,
    min_docs: int = 2,
    exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Chunk-level duplication profile over content-defined chunks:

    (doc_id, n_chunks, n_dup_chunks, dup_chunk_ratio, dup_char_frac)

    -- ``paragraph_stats``' shape with CDC boundaries instead of blank
    lines: catches shared passages in text with no paragraph structure
    (minified pages, logs, OCR) and survives byte-offset shifts.  Only
    (doc_id, md5, length) tuples shuffle -- chunk text never moves;
    ``exact=False`` swaps the distinct-doc count for the mergeable HLL
    sketch, same as the paragraph twin.  Docs whose normalized text is
    empty contribute no rows.

    Chunks come from the Arrow-batched numpy chunker
    (:func:`cdc_chunks_pandas`; the interpreted per-char HOF fold
    :func:`cdc_chunks` measured ~4x the wall at ladder scale and stays as
    the reference, asserted chunk-identical in tests)."""
    chunk_col = cdc_chunks_pandas(window, boundary_mod)(F.col(text_col))
    ch = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(chunk_col).alias("ch"),
    ).select("doc_id", F.md5("ch").alias("h"), F.length("ch").alias("n_chars"))
    agg = (
        F.count_distinct("doc_id")
        if exact
        else F.approx_count_distinct("doc_id", rsd)
    )
    freq = ch.groupBy("h").agg(agg.cast("long").alias("n_docs"))
    dup = F.col("n_docs") >= min_docs
    return (
        ch.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(dup.cast("long")).alias("n_dup_chunks"),
            F.round(
                F.sum(dup.cast("long")) / F.count(F.lit(1)), 6
            ).alias("dup_chunk_ratio"),
            F.round(
                F.sum(F.when(dup, F.col("n_chars")).otherwise(0))
                / F.sum("n_chars"),
                6,
            ).alias("dup_char_frac"),
        )
    )


def source_ngram_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 15,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(source_a, source_b, n_shared_grams): how many distinct ``n``-token
    gram hashes each PAIR of ingest sources shares -- the corpus-health
    matrix that shows which sources mirror/scrape each other (a high cell
    means cross-source verbatim copying that per-document dedup will pay
    for, and that source-level weighting should know about).

    ``shared_ngram_pairs`` generalized from documents to sources: grams
    collapse to DISTINCT (source, hash) pairs map-side-partially before
    the self-join, so the join input is bounded by sources x distinct
    grams, and the output by sources^2 -- tiny, since ingest sources are
    few by construction (unlike domains).  ``max_bucket_size`` caps the
    number of SOURCES sharing a gram (a gram in every source is
    ecosystem boilerplate, not a pairwise copying signal)."""
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_hashes

    grams = (
        df.select(
            F.col(source_col).alias("src"),
            F.explode(word_ngram_hashes(F.col(text_col), n)).alias("h"),
        )
        .distinct()
    )
    if max_bucket_size is not None:
        sizes = grams.groupBy("h").agg(F.count(F.lit(1)).alias("_bn"))
        grams = grams.join(sizes.filter(F.col("_bn") <= max_bucket_size), "h").drop(
            "_bn"
        )
    a = grams.select(F.col("src").alias("source_a"), "h")
    b = grams.select(F.col("src").alias("source_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


def ngram_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 15,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """One-row gram-bucket report for ``shared_ngram_pairs`` -- the
    ``lsh_bucket_stats`` twin, because dropping is never silent: sizes
    the ``max_bucket_size`` cap and exposes exactly how many grams/pairs
    it would remove (a gram shared by thousands of docs is boilerplate --
    a CLUSTER signal for paragraph/exact dedup, not a pair signal)."""
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_hashes

    sizes = (
        df.select(
            F.explode(word_ngram_hashes(F.col(text_col), n)).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    pairs = (F.col("sz") * (F.col("sz") - 1) / 2).cast("long")
    over = F.col("sz") > (max_bucket_size if max_bucket_size is not None else 2**62)
    # every aggregate coalesced: on an empty/gram-less corpus sum/max over
    # zero rows are NULL and downstream arithmetic on the report would
    # crash on None
    return sizes.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.max("sz"), F.lit(0)).alias("max_bucket"),
        F.coalesce(F.sum(pairs), F.lit(0)).alias("candidate_pairs"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("grams_dropped"),
        F.coalesce(F.sum(F.when(over, pairs)), F.lit(0)).alias("pairs_dropped"),
    )


def gram_novelty_trend(
    df: DataFrame,
    batch_col: str = "batch",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(batch, n_grams, n_novel, novelty): per-ingest-batch fraction of
    distinct ``n``-gram hashes never seen in any EARLIER batch -- the
    corpus-growth health trend a crawl pipeline watches (novelty decaying
    toward 0 means new ingest is re-crawling what the corpus already
    holds, so marginal data buys no marginal tokens; a sudden spike means
    a genuinely new source came online).  ``batch`` is any ordered ingest
    key (day, crawl id, shard wave); batches with at least one gram each
    get a row.

    Scale shape: grams collapse to DISTINCT (batch, hash) map-side
    before anything moves (one shuffle, bounded by batches x distinct
    grams); first-seen batch is a ``min`` aggregate per hash (second
    shuffle, partial-agg'd); both per-batch rollups are tiny and the
    final join broadcasts.  Detection-only metric, so grams keep the
    cheap h32 (the destructive-op full-md5 policy on
    ``decontam.word_ngram_pos_hashes`` does not apply)."""
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_hashes

    u = df.select(
        F.col(batch_col).alias("batch"),
        F.explode(word_ngram_hashes(F.col(text_col), n)).alias("h"),
    ).distinct()
    totals = u.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    novel = (
        u.groupBy("h")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return totals.join(F.broadcast(novel), "batch", "left").select(
        "batch",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)) / F.col("n_grams"), 6
        ).alias("novelty"),
    )


def sampled_dedup_rate(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    buckets: int = 256,
    sample_buckets: int = 16,
) -> DataFrame:
    """One-row corpus dup-rate estimate from a deterministic hash-bucket
    SAMPLE of the gram space: total ``n``-gram occurrences (exact -- pure
    per-doc arithmetic, no gram ever moves) vs distinct grams estimated
    by counting only grams whose h32 falls in ``sample_buckets`` of
    ``buckets`` hash buckets and scaling up.  ``dup_rate_est = 1 -
    est_distinct / occurrences`` is the headline "how much would exact
    dedup save" number a curation run consults BEFORE paying for the
    full distinct pass: only ``sample_buckets/buckets`` of the gram
    stream shuffles (1/16 at the defaults), and because the sample is a
    hash partition of the key space -- not a row sample -- every
    occurrence of a sampled gram is in or out together, so the
    per-bucket distinct count is exact and the only error is
    between-bucket variance.  ``sample_buckets = buckets`` degrades to
    the exact distinct count (tested).  h32 collisions bias the estimate
    low by ~D/2^32 -- detection-only, per the hash policy.

    Single scan, no join: per-doc occurrence counts ride the gram
    explosion (counted once per doc via the pos-0/outer-null row), and
    the global aggregate is one partial-agg'd reduction."""
    if not 1 <= sample_buckets <= buckets:
        raise ValueError(
            f"sample_buckets must be in [1, buckets]; got "
            f"{sample_buckets}/{buckets}"
        )
    if buckets % sample_buckets != 0:
        raise ValueError(
            "buckets must be a multiple of sample_buckets for an integer "
            f"scale-up; got {buckets}/{sample_buckets}"
        )
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_hashes
    from mariadb_to_graylog_spark.operators.textstats import normalize_text

    scale = buckets // sample_buckets
    occ = F.greatest(
        F.size(F.split(normalize_text(F.col(text_col)), " ")) - (n - 1),
        F.lit(0),
    ).cast("long")
    sampled = F.filter(
        word_ngram_hashes(F.col(text_col), n),
        lambda h: h % buckets < sample_buckets,
    )
    ex = df.select(occ.alias("occ"), F.posexplode_outer(sampled).alias("pos", "h"))
    first_row_of_doc = F.col("pos").isNull() | (F.col("pos") == 0)
    out = ex.agg(
        F.coalesce(F.sum(F.when(first_row_of_doc, F.col("occ"))), F.lit(0))
        .cast("long")
        .alias("n_gram_occurrences"),
        F.count_distinct(F.col("h")).cast("long").alias("n_sampled_distinct"),
    )
    est = (F.col("n_sampled_distinct") * scale).cast("long")
    return out.select(
        "n_gram_occurrences",
        "n_sampled_distinct",
        est.alias("est_distinct_grams"),
        F.when(
            F.col("n_gram_occurrences") > 0,
            # clamped at 0: between-bucket variance can push the scaled
            # estimate above the exact occurrence total on low-dup
            # corpora, and a NEGATIVE "savings" number would poison the
            # decision this metric feeds
            F.greatest(
                F.round(F.lit(1) - est / F.col("n_gram_occurrences"), 6),
                F.lit(0.0),
            ),
        ).alias("dup_rate_est"),
    )


def diagonal_run_islands(
    matched: DataFrame, key_cols: list[str], n: int
) -> DataFrame:
    """The gaps-and-islands core shared by ``shared_run_extents`` and
    ``decontam.contamination_extents``: ``matched`` holds gram matches as
    (key_cols..., diag, pos_a); a verbatim run of L >= n tokens is L-n+1
    matches at consecutive ``pos_a`` on one diagonal, so islands per
    (key_cols, diag) recover maximal runs.  Returns one row per island:
    (key_cols..., diag, run_start, run_tokens).

    Duplicate matched rows (same key/diag/pos_a -- e.g. the same eval
    item listed twice) are ABSORBED, not corrupting: the island key uses
    dense_rank (identical pos_a share a rank) and the length counts
    DISTINCT positions, so a doubled row cannot fragment a run or
    inflate its length."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols, "diag").orderBy("pos_a")
    islands = matched.withColumn("grp", F.col("pos_a") - F.dense_rank().over(w))
    return (
        islands.groupBy(*key_cols, "diag", "grp")
        .agg(
            F.min("pos_a").alias("run_start"),
            (F.count_distinct("pos_a") + (n - 1)).cast("long").alias("run_tokens"),
        )
        .drop("grp")
    )


def _positioned_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_bucket_size: int | None,
    hasher=None,
    hash_type: str = "long",
) -> DataFrame:
    """Capped positioned-gram table (id, pos, h) shared by the whole
    extents family (``shared_run_extents`` / ``verbatim_coverage`` /
    ``trim_verbatim_runs``) so cap semantics and hashing cannot drift
    between the detection and the destructive ops.  ``max_bucket_size``
    counts gram OCCURRENCES (a gram occurring k times per side emits k^2
    matched positions per pair -- the quadratic the cap bounds)."""
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_pos_hashes

    pg = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            word_ngram_pos_hashes(F.col(text_col), n, hasher, hash_type)
        ).alias("g"),
    ).select("id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    if max_bucket_size is not None:
        sizes = pg.groupBy("h").agg(F.count(F.lit(1)).alias("_bn"))
        pg = pg.join(sizes.filter(F.col("_bn") <= max_bucket_size), "h").drop("_bn")
    return pg


def _gram_cover_intervals(pg: DataFrame, n: int, lower_only: bool) -> DataFrame:
    """(id, s, e) n-token cover intervals from positioned grams WITHOUT
    the per-gram position self-join -- the sorted-gram alternative the
    occurrence cap existed to protect.  Observation: the interval union
    the coverage/trim decisions consume is exactly the union of
    [pos, pos+n-1] over every gram occurrence matched elsewhere (a
    maximal shared run of L tokens is L-n+1 overlapping matched grams
    whose intervals union back to the full run; the per-pair diagonal
    islands only pre-merge what ``_merged_intervals`` merges anyway), so
    "matched elsewhere" is all that must be computed per occurrence:

    - coverage (``lower_only=False``): gram occurs in ANY other doc
      <=> per-hash min(id) != id OR max(id) != id
    - trim (``lower_only=True``): gram occurs in a LOWER-id doc
      <=> per-hash min(id) < id

    One groupBy(h) with min/max (map-side combinable -- a degenerate
    gram's k occurrences collapse to partial aggregates BEFORE the
    shuffle, so skew is absorbed where the k^2 join blew up) plus a
    linear 1:k join-back.  No quadratic anywhere => no
    ``max_bucket_size`` trade-off: every gram participates, nothing is
    dropped."""
    agg = pg.groupBy("h").agg(
        F.min("id").alias("_min_id"), F.max("id").alias("_max_id")
    )
    j = pg.join(agg, "h")
    if lower_only:
        j = j.filter(F.col("_min_id") < F.col("id"))
    else:
        j = j.filter(
            (F.col("_min_id") != F.col("id")) | (F.col("_max_id") != F.col("id"))
        )
    return j.select(
        "id",
        F.col("pos").alias("s"),
        (F.col("pos") + F.lit(n - 1)).cast("long").alias("e"),
    )


def _merged_intervals(runs: DataFrame) -> DataFrame:
    """Per-id interval union of (id, s, e) runs -- one windowed pass: an
    interval starts a new island iff its start exceeds the running max
    end of everything sorted before it.  Returns (id, ms, me) merged
    intervals; shared by ``verbatim_coverage`` and
    ``trim_verbatim_runs``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    return (
        runs.withColumn(
            "_new",
            F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
        )
        .withColumn(
            "_grp", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("id", "_grp")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .drop("_grp")
    )


def _coverage_from_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    runs: DataFrame,
    covered_name: str = "covered_tokens",
    frac_name: str = "coverage",
) -> DataFrame:
    """(doc_id, n_tokens, <covered_name>, <frac_name>) from raw (id, s, e)
    cover runs: per-doc interval union (``_merged_intervals``) -> covered
    token count -> left-join back so EVERY document appears (clean docs
    report 0).  Shared by ``verbatim_coverage`` and
    ``decontam.contamination_coverage`` so union semantics cannot drift
    between the intra-corpus and the vs-eval-set decision metrics."""
    from mariadb_to_graylog_spark.operators.textstats import normalize_text

    toks = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(normalize_text(F.col(text_col)), " ")).cast("long").alias(
            "n_tokens"
        ),
    )
    covered = _merged_intervals(runs).groupBy("id").agg(
        F.sum(F.col("me") - F.col("ms") + 1).cast("long").alias("_cov")
    )
    return toks.join(covered, "id", "left").select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.coalesce("_cov", F.lit(0)).alias(covered_name),
        F.round(F.coalesce("_cov", F.lit(0)) / F.col("n_tokens"), 6).alias(
            frac_name
        ),
    )


def _trim_by_runs(
    df: DataFrame, id_col: str, text_col: str, runs: DataFrame
) -> DataFrame:
    """(doc_id, trimmed_text, n_tokens, n_tokens_removed) from raw
    (id, s, e) cover runs: interval union per doc, the merged list joins
    back as an array (bounded by run count), then ONE map-side
    higher-order filter drops covered token positions -- text shuffles
    only on that final join.  Shared by ``trim_verbatim_runs`` and
    ``decontam.trim_contaminated_runs``."""
    from mariadb_to_graylog_spark.operators.textstats import bind_once, normalize_text

    merged = (
        _merged_intervals(runs)
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("ms"), F.col("me")))
            ).alias("ivs")
        )
    )
    toks = F.split(normalize_text(F.col(text_col)), " ")

    def _trim(ts: Column, ivs: Column) -> Column:
        # ts is a materialized column (attribute reads are free); the
        # filtered array is bound once -- HOF expressions are interpreted
        # with no CSE, and the per-token exists() scan is the costly part
        def _pack(kept: Column) -> Column:
            return F.struct(
                F.array_join(kept, " ").alias("txt"),
                (F.size(ts) - F.size(kept)).cast("long").alias("removed"),
                F.size(ts).cast("long").alias("total"),
            )

        return bind_once(
            F.filter(
                ts,
                lambda x, i: ~F.exists(
                    ivs, lambda iv: (i >= iv["ms"]) & (i <= iv["me"])
                ),
            ),
            _pack,
        )

    out = (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .join(merged, "id", "left")
        .withColumn(
            "_ivs",
            F.coalesce(F.col("ivs"), F.array().cast("array<struct<ms:long,me:long>>")),
        )
        .select("id", _trim(F.col("_toks"), F.col("_ivs")).alias("_t"))
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("_t.txt").alias("trimmed_text"),
        F.col("_t.total").alias("n_tokens"),
        F.col("_t.removed").alias("n_tokens_removed"),
    )


def shared_run_extents(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 15,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, max_run_tokens): the length in TOKENS of the LONGEST
    verbatim run shared by each document pair -- the maximal-extent output
    a suffix array would give (Lee et al.), recovered without one:

    a run of L >= n tokens appears as L - n + 1 shared grams at
    CONSECUTIVE positions on one DIAGONAL (pos_a - pos_b constant), so
    extents fall out of a gaps-and-islands pass over matched gram
    positions (``diagonal_run_islands``): group by (pair, diagonal),
    island key = pos_a - dense_rank, longest island + n - 1 = the run
    length.  Whole pass is joins + window functions -- no Python, no
    per-pair materialized texts.

    ``pairs`` restricts the position join to a precomputed candidate set
    (feed ``shared_ngram_pairs`` output when it already exists).  With
    ``pairs=None`` the matched-position join ITSELF is the pair
    derivation -- only gram-sharing documents meet on the hash key, so no
    separate pair pass (and no second scan tree) is needed; the quadratic
    blowup a naive position self-join would risk is bounded by gram
    sharing either way, with ``max_bucket_size`` dropping degenerate
    grams on BOTH paths (counted over gram OCCURRENCES here, not
    distinct docs -- a gram occurring k times per side emits k^2 matched
    positions per pair, which is exactly what the cap exists to bound)."""
    pg = _positioned_grams(df, id_col, text_col, n, max_bucket_size)
    b = pg.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "h"
    )
    if pairs is None:
        a = pg.select(
            F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "h"
        )
        matched = a.join(b, "h").filter(F.col("id_a") < F.col("id_b"))
    else:
        a = pairs.select("id_a", "id_b").join(
            pg.select(
                F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "h"
            ),
            "id_a",
        )
        matched = a.join(b, ["id_b", "h"])
    matched = matched.select(
        "id_a", "id_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag")
    )
    runs = diagonal_run_islands(matched, ["id_a", "id_b"], n)
    return runs.groupBy("id_a", "id_b").agg(
        F.max("run_tokens").alias("max_run_tokens")
    )


def verbatim_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 15,
    max_bucket_size: int | None = None,
    strategy: str = "grouped",
) -> DataFrame:
    """(doc_id, n_tokens, covered_tokens, coverage): the fraction of each
    document's tokens lying inside ANY verbatim run of >= ``n`` tokens
    shared with ANY OTHER document -- the actual Lee-et-al dedup
    DECISION metric ("drop/trim documents with more than X% duplicated
    content"), which pair lists and max-run lengths only approximate.
    Every document appears; clean documents report coverage 0.0.

    Composition: the ``shared_run_extents`` position self-join (both
    orientations -- each document's coverage counts overlap with every
    partner) -> ``diagonal_run_islands`` -> per-document INTERVAL UNION,
    so two runs shared with different partners over the same span count
    that span once.  The union is one windowed pass: intervals sorted by
    start per doc, a run's island starts where its start exceeds the
    running max end of everything before it.

    Scale shape: the ``shared_run_extents`` position join plus one
    exchange keyed by doc id for the union -- interval counts are
    bounded by run counts, which the gram cap already bounds.  Because
    this score FEEDS DROP DECISIONS, grams carry their FULL 128-bit md5
    (32-byte join keys instead of 8): at corpus scale 32-bit collisions
    number in the millions and each would fabricate an n-token run;
    detection-only siblings keep the cheap h32.  Token counts come from
    a second map-side projection over the source (one extra scan branch,
    no shuffle -- cheaper than carrying the count through the gram
    explode); an empty/whitespace text normalizes to one empty token
    (n_tokens=1, coverage 0).

    ``strategy`` picks the matched-gram derivation -- results are
    IDENTICAL (asserted by tests), only the plan differs:

    - ``"grouped"`` (default): ``_gram_cover_intervals`` -- per-hash
      min/max aggregate + linear join-back, NO position self-join, so
      degenerate grams cost k rows instead of k^2 and
      ``max_bucket_size`` is unnecessary (honored if passed, for
      identical-input comparisons against the join twin).
    - ``"join"``: the original position self-join -> diagonal islands
      path (the cross-check twin; needs the cap on degenerate
      corpora)."""
    if strategy not in ("grouped", "join"):
        raise ValueError(f"unknown strategy {strategy!r}")
    pg = _positioned_grams(
        df, id_col, text_col, n, max_bucket_size, hasher=F.md5, hash_type="string"
    )
    if strategy == "grouped":
        runs = _gram_cover_intervals(pg, n, lower_only=False)
    else:
        a = pg.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "h")
        b = pg.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "h")
        matched = (
            a.join(b, "h")
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                "pos_a",
                (F.col("pos_a") - F.col("pos_b")).alias("diag"),
            )
        )
        runs = diagonal_run_islands(matched, ["id_a", "id_b"], n).select(
            F.col("id_a").alias("id"),
            F.col("run_start").alias("s"),
            (F.col("run_start") + F.col("run_tokens") - 1).alias("e"),
        )
    return _coverage_from_runs(df, id_col, text_col, runs)


def trim_verbatim_runs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 15,
    max_bucket_size: int | None = None,
    strategy: str = "grouped",
) -> DataFrame:
    """(doc_id, trimmed_text, n_tokens, n_tokens_removed): Lee-et-al
    substring DEDUPLICATION, not just detection -- every token span of
    >= ``n`` tokens that also appears in a LOWER-id document is removed,
    so exactly one occurrence of each duplicated run survives corpus-wide
    (the lowest-id one; the deterministic stand-in for "keep the first
    occurrence").  A doc sharing nothing keeps its text; a doc fully
    contained in a lower-id doc comes back as an empty husk (caller
    filters), mirroring ``drop_duplicate_paragraphs``.

    ``trimmed_text`` is the space-joined surviving tokens of the
    NORMALIZED text (lowercased, whitespace-collapsed) -- the same token
    stream the runs are defined on; trimming raw text would need
    original-offset bookkeeping the gram pipeline deliberately discards.

    Shape: the ``verbatim_coverage`` interval machinery restricted to
    ``id_a > id_b`` matches, intervals unioned per doc, then ONE
    map-side higher-order filter drops covered token positions -- the
    per-doc interval list joins back as an array (bounded by run count,
    which the gram cap bounds), text shuffles only on that final join.
    DESTRUCTIVE, so grams carry their FULL 128-bit md5 like
    ``verbatim_coverage``: an unverified 32-bit collision here would not
    flag a spurious pair, it would silently DELETE n real tokens.

    ``strategy="grouped"`` (default) derives covered positions from a
    per-hash min-id aggregate (``_gram_cover_intervals``: a position is
    trimmed iff its gram also occurs in a lower-id doc, i.e.
    min(id) over the hash < id) -- no position self-join, so the
    degenerate-gram quadratic never happens and NO occurrence cap is
    needed on the destructive path.  ``strategy="join"`` keeps the
    original self-join + diagonal-islands derivation as the cross-check
    twin; results are identical (asserted by tests)."""
    if strategy not in ("grouped", "join"):
        raise ValueError(f"unknown strategy {strategy!r}")
    pg = _positioned_grams(
        df, id_col, text_col, n, max_bucket_size, hasher=F.md5, hash_type="string"
    )
    if strategy == "grouped":
        runs = _gram_cover_intervals(pg, n, lower_only=True)
    else:
        a = pg.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "h")
        b = pg.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "h")
        matched = (
            a.join(b, "h")
            .filter(F.col("id_a") > F.col("id_b"))  # keep the lowest-id copy
            .select(
                "id_a",
                "id_b",
                "pos_a",
                (F.col("pos_a") - F.col("pos_b")).alias("diag"),
            )
        )
        runs = diagonal_run_islands(matched, ["id_a", "id_b"], n).select(
            F.col("id_a").alias("id"),
            F.col("run_start").alias("s"),
            (F.col("run_start") + F.col("run_tokens") - 1).alias("e"),
        )
    return _trim_by_runs(df, id_col, text_col, runs)


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """One-row bucket-size report: n_buckets, max_bucket, candidate pairs,
    and (if a cap is given) buckets/pairs the cap would drop."""
    buckets = lsh_buckets(df, id_col, text_col, shingle_n, bands, rows_per_band)
    sizes = buckets.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n"))
    pairs = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    over = F.col("n") > (max_bucket_size if max_bucket_size is not None else 2**62)
    # coalesced like ngram_bucket_stats: empty corpus -> 0s, not NULLs
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        F.coalesce(F.sum(pairs), F.lit(0)).alias("candidate_pairs"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("buckets_dropped"),
        F.coalesce(F.sum(F.when(over, pairs)), F.lit(0)).alias("pairs_dropped"),
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Sketch-only near-dup scoring: LSH candidates scored by the MinHash
    collision fraction -- an unbiased estimator of Jaccard with stderr
    sqrt(J(1-J)/k), k = bands*rows_per_band.

    The 100 TB fast path when ~1/sqrt(k) error is acceptable: after
    banding, NO second pass touches shingle arrays or text -- only
    (id, k longs) signature rows move to meet the candidates.
    ``lsh_jaccard_verified`` is the exact twin (same candidates, exact
    n-gram Jaccard); use it when the score gates deletion.

    Cost shape note: the signature lineage is evaluated for the bucket
    relation AND both join sides (map-side recompute, no shuffle).  On
    small local corpora that recompute dominates and the "fast" path can
    measure slower than verify; at corpus scale the traffic it avoids --
    per-candidate gram arrays (hundreds of longs/doc) vs k=32 longs --
    is the term that matters."""
    k = bands * rows_per_band
    sigs = minhash_signatures(df, id_col, text_col, shingle_n, k)
    sig_arr = sigs.select(
        "id", F.array(*[F.col(f"mh_{j}") for j in range(k)]).alias("_sig")
    )
    band_structs = F.array(
        *[
            F.struct(
                *[
                    F.col(f"mh_{b * rows_per_band + r}").alias(f"s{r}")
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select("id", F.posexplode(band_structs).alias("band", "sig"))
    cand = _bucket_pairs(buckets, ["band", "sig"], max_bucket_size)
    a = sig_arr.select(F.col("id").alias("id_a"), F.col("_sig").alias("_sa"))
    b = sig_arr.select(F.col("id").alias("id_b"), F.col("_sig").alias("_sb"))
    matches = F.size(
        F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda v: v)
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("est_jaccard", F.round(matches / F.lit(float(k)), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _char_ngram_codes_py(text: str | None, n: int = 3):
    """Distinct char n-grams of ``text`` encoded bijectively into int64:
    each gram's codepoints packed 21 bits apiece (max codepoint 0x10FFFF
    < 2^21; missing chars of a short gram encode as 0, and NUL never
    occurs in text), so |set intersection| and |set union| over the codes
    EQUAL the same counts over the string grams of ``char_ngrams`` --
    tested equal.  Returns a SORTED unique int64 array (set semantics;
    counts are all the verify needs).  Requires 21*n <= 63."""
    import numpy as np

    s = text or ""
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    ln = codes.size
    if ln < n:
        pad = np.zeros(n, dtype=np.int64)
        pad[:ln] = codes
        e = 0
        for j in range(n):
            e = (e << 21) | int(pad[j])
        return np.array([e], dtype=np.int64)
    npos = ln - n + 1
    e = np.zeros(npos, dtype=np.int64)
    for j in range(n):
        e = (e << 21) | codes[j : j + npos]
    return np.unique(e)


def _verified_jaccard_native(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_docs: int,
) -> DataFrame | None:
    """Native verify stage of ``lsh_jaccard_verified`` for bounded corpora
    (r7 optimization).  The join-based verify moved every candidate
    pair's two ~250-element STRING gram arrays through two shuffled
    joins (~2 GB at sf1.0, ~20 s of the 26 s chain) only to reduce them
    to two counts.  Here one Arrow pass computes each doc's gram set as
    SORTED int64 codes (:func:`_char_ngram_codes_py`, bijective, so
    intersection/union counts are identical to the string sets), the
    (id -> codes) table is broadcast as CSR, and a mapInPandas over the
    *distributed* candidate pairs computes exact
    |intersect| / |union| per pair via searchsorted -- identical doubles
    (same integer counts, same IEEE division), threshold applied to the
    raw value exactly like the join path."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession

    @pandas_udf("array<long>")
    def codes_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _char_ngram_codes_py(t, n))

    gp = _bounded_collect(
        df.select(F.col(id_col).alias("id"), codes_udf(F.col(text_col)).alias("g")),
        max_docs,
    )
    if gp is None:
        return None
    id_type = cand.schema["id_a"].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, jaccard double"
    if len(gp) == 0:
        return spark.createDataFrame([], out_schema)
    ids = gp["id"].tolist()
    arrs = [np.asarray(a, dtype=np.int64) for a in gp["g"].tolist()]
    idx_of = {v: i for i, v in enumerate(ids)}
    sizes = np.fromiter((a.size for a in arrs), np.int64, count=len(arrs))
    offs = np.zeros(len(arrs) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    bc = spark.sparkContext.broadcast(
        {"idx": idx_of, "offs": offs, "flat": flat, "sz": sizes}
    )

    def verify(batches):
        b = bc.value
        idx, offs_l, flat_l, sz = b["idx"], b["offs"], b["flat"], b["sz"]
        for pdfb in batches:
            ja, jb, jj = [], [], []
            for ia, ib in zip(pdfb["id_a"].tolist(), pdfb["id_b"].tolist()):
                xa, xb = idx.get(ia), idx.get(ib)
                if xa is None or xb is None:
                    continue  # join path would drop the pair identically
                ga = flat_l[offs_l[xa] : offs_l[xa + 1]]
                gb = flat_l[offs_l[xb] : offs_l[xb + 1]]
                if ga.size > gb.size:
                    ga, gb = gb, ga
                pos = np.searchsorted(gb, ga)
                ok = pos < gb.size
                inter = int((gb[pos[ok]] == ga[ok]).sum())
                union = int(sz[xa] + sz[xb]) - inter
                jac = inter / union
                if jac >= threshold:
                    ja.append(ia)
                    jb.append(ib)
                    jj.append(jac)
            yield pd.DataFrame(
                {"id_a": ja, "id_b": jb, "jaccard": jj}
            ).astype(
                {"jaccard": np.float64}
            ) if ja else pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype=pdfb["id_a"].dtype),
                    "id_b": pd.Series([], dtype=pdfb["id_b"].dtype),
                    "jaccard": pd.Series([], dtype=np.float64),
                }
            )

    return cand.mapInPandas(verify, out_schema)


def lsh_jaccard_verified(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    native_max_docs: int = _NATIVE_MAX_DOCS,
) -> DataFrame:
    """THE default near-dup path at scale: LSH candidates -> exact n-gram
    Jaccard computed on candidates ONLY.

    Candidate generation shuffles (band, sig, id) tuples; verification
    joins the candidate pair list back to per-doc gram sets twice (equi-
    joins on id -- gram arrays move once per side, never quadratically).
    Replaces all-pairs ``ngram_jaccard_pairs`` everywhere the block key
    does not bound the block size (lang='en' IS the corpus at 100 TB);
    keep all-pairs only as an explicitly small-block verifier.

    Execution strategy (r7 optimization): corpora up to
    ``native_max_docs`` docs (sized by :func:`_bounded_collect`; 0 pins
    the join path) verify via :func:`_verified_jaccard_native`
    (candidate generation unchanged and distributed; the gram sets are
    int64-encoded, broadcast once, and each candidate pair reduced to its
    two counts in numpy) -- identical doubles, measured 26.4 s -> ~7 s at
    sf1.0 where the join-based verify shuffled ~2 GB of string arrays.
    Beyond the cap, or when a gram cannot be packed into 63 bits
    (n > 3), the join-based verify below runs unchanged.
    """
    cand = minhash_lsh_pairs(
        df, id_col, text_col, shingle_n, bands, rows_per_band, max_bucket_size
    )
    if native_max_docs and 21 * n <= 63:
        nat = _verified_jaccard_native(
            df, cand, id_col, text_col, n, threshold, native_max_docs
        )
        if nat is not None:
            return nat
    grams = df.select(
        F.col(id_col).alias("id"), char_ngrams(F.col(text_col), n).alias("grams")
    )
    pairs = (
        cand.join(grams.select(F.col("id").alias("id_a"), F.col("grams").alias("g_a")), "id_a")
        .join(grams.select(F.col("id").alias("id_b"), F.col("grams").alias("g_b")), "id_b")
    )
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def crosslingual_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs ACROSS scripts and diacritics: compose
    ``textstats.fold_confusables`` (case + diacritic + Cyrillic-confusable
    1:1 fold) with the standard ``lsh_jaccard_verified`` chain, so
    "café résumé" / "cafe resume" and homoglyph-substituted copies (Latin
    "o" swapped for Cyrillic "о" -- the classic dedup-evasion edit that
    leaves text visually identical while breaking every byte-level
    signature) land in the same MinHash buckets and verify on the same
    folded n-grams.

    Jaccard is computed on FOLDED text: a pair's score is its similarity
    under the canonical fold, 1.0 for pure homoglyph/diacritic variants.
    Plain ``lsh_jaccard_verified`` scores the same pair near 0.0 (tested)
    -- this is the dedup axis it cannot see.

    Scale shape: identical to ``lsh_jaccard_verified`` (the fold is one
    extra map-side translate per document, zero new shuffles)."""
    from mariadb_to_graylog_spark.operators.textstats import fold_confusables

    folded = df.select(
        F.col(id_col).alias(id_col), fold_confusables(F.col(text_col)).alias(text_col)
    )
    return lsh_jaccard_verified(
        folded,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        bands=bands,
        rows_per_band=rows_per_band,
        n=n,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )


_CP_KEY = "spark.sql.constraintPropagation.enabled"
_CP_LOCK = threading.Lock()
# per-session disable depth + saved original value, WEAKLY keyed by the
# session object -- concurrent connected_components runs on one session
# must not restore the conf under each other, and a NEW session reusing a
# GC'd session's id() must not inherit its stale saved value (an id-keyed
# dict did exactly that when a run died between acquire and release).
# Driver-side only; executors never see this.
_CP_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cp_acquire(spark) -> None:
    with _CP_LOCK:
        st = _CP_STATE.setdefault(spark, {"depth": 0, "prev": None})
        if st["depth"] == 0:
            st["prev"] = spark.conf.get(_CP_KEY, None)
            spark.conf.set(_CP_KEY, "false")
        st["depth"] += 1


def _cp_release(spark) -> None:
    with _CP_LOCK:
        st = _CP_STATE[spark]
        st["depth"] -= 1
        if st["depth"] == 0:
            if st["prev"] is None:
                spark.conf.unset(_CP_KEY)
            else:
                spark.conf.set(_CP_KEY, st["prev"])
            del _CP_STATE[spark]


def _cc_native(edges: DataFrame, pdf: "pd.DataFrame") -> DataFrame:
    """Driver-side union-find twin of the iterative label scheme for
    BOUNDED edge lists (r7 optimization, guide §1.2: the cheapest plan for
    a graph whose edges fit comfortably in one process is no distributed
    iteration at all).  Verified near-dup pair sets are tiny relative to
    the corpus -- 170k edges at sf1.0 while the label loop paid ~6-8
    rounds of join+agg+checkpoint+probe actions (~8 s).  Identical
    contract: component = MIN reachable ORIGINAL id, string ids ordered
    by UTF-8 bytes exactly like Spark's ``min``.  ``pdf`` is the edge
    list :func:`_bounded_collect` returned; beyond its cap the caller
    runs the distributed iteration."""
    a_list = pdf["id_a"].tolist()
    b_list = pdf["id_b"].tolist()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    rank: dict = {}
    for x, y in zip(a_list, b_list):
        if x not in parent:
            parent[x] = x
            rank[x] = 0
        if y not in parent:
            parent[y] = y
            rank[y] = 0
        rx, ry = find(x), find(y)
        if rx != ry:
            if rank[rx] < rank[ry]:
                rx, ry = ry, rx
            parent[ry] = rx
            if rank[rx] == rank[ry]:
                rank[rx] += 1
    # min ORIGINAL id per root; strings compare as UTF-8 bytes (Spark min)
    str_ids = any(isinstance(v, str) for v in parent)
    mn: dict = {}
    for v in parent:
        r = find(v)
        k = v.encode("utf-8") if str_ids else v
        cur = mn.get(r)
        if cur is None or k < cur[0]:
            mn[r] = (k, v)
    out_rows = [(v, mn[find(v)][1]) for v in parent]
    idt = edges.schema["id_a"].dataType
    schema = T.StructType(
        [T.StructField("id", idt), T.StructField("component", idt)]
    )
    return edges.sparkSession.createDataFrame(out_rows, schema)


def connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    jump_after: int = 4,
) -> DataFrame:
    """(id, component) for every node in the edge list, component = MIN id
    reachable, by min-label propagation with adaptive pointer jumping:

    * each round: ONE shuffle join (labels into the symmetric edge list),
      ONE groupBy-min over (neighbor messages UNION own label) -- the
      union keeps every node present, so no left-join-back is needed --
      then -- from round ``jump_after`` on -- a POINTER JUMP
      (label <- label(label), one self-join of the label table): path
      compression makes convergence O(log diameter) rounds instead of
      O(diameter), so chain-shaped components (doc1 ~ doc2 ~ ... ~ docN,
      the adversarial case for plain min-propagation) converge in tens
      of rounds at any N instead of blowing max_iters.  The jump is
      ADAPTIVE because it costs an extra self-join per round and buys
      nothing on dense dup blobs (diameter ~2, converged before round
      ``jump_after``): shallow corpora -- the overwhelmingly common
      near-dup shape -- never pay for it (measured ~20-60% per-round);
    * convergence is detected from the MONOTONE LABEL-SUM INVARIANT: labels
      only ever decrease (min-propagation), so sum(label) is strictly
      decreasing until the fixpoint and equal exactly at it.  The probe is
      a count+sum over the just-checkpointed blocks -- no join, no second
      pass over the edges (the previous implementation paid a full
      labels-to-labels join + count per round);
    * ``checkpoint_dir`` selects RELIABLE checkpointing (survives executor
      loss -- required on a real cluster, where ``localCheckpoint`` blocks
      die with their executor and fail the job mid-iteration): each round
      snapshots the label table as parquet under a per-run subdirectory
      and deletes the superseded round's snapshot, so at most two rounds
      of files ever exist and the shared ``setCheckpointDir`` is never
      touched (``df.checkpoint`` would both leak every round's files --
      Spark never cleans them by default -- and mutate the application's
      global checkpoint location).  The FINAL snapshot backs the returned
      DataFrame; the caller owns deleting ``checkpoint_dir`` after
      consuming the result.  When None (tests / local mode) it falls back
      to ``localCheckpoint``.  Either way the lineage is truncated each
      round so the plan stays O(1);
    * the result (min id per component) is ITERATION-ORDER INDEPENDENT, so
      it is oracle-checkable against a recursive-CTE ground truth;
    * NON-INTEGRAL ids (strings, fractional numerics) are DENSELY ENCODED
      to unique longs up front (``monotonically_increasing_id`` on the
      frozen node table -- two one-time joins on the edge list), the
      iteration runs entirely on longs, and the final labels are decoded
      with a groupBy-min over the ORIGINAL ids so the contract (component
      = min original id, matching a recursive-CTE oracle) is unchanged.
      This keeps the O(1) sum probe exact (a decimal sum over string
      labels is NULL and would falsely report convergence after one
      round) AND shrinks every per-round shuffle to 8-byte keys -- at
      100 TB the iteration moves longs, never document ids.

    Raises if not converged within ``max_iters`` -- silent partial labels
    would be wrong-but-plausible, the worst failure mode for dedup.

    Edge lists that :func:`_bounded_collect` admits (``_NATIVE_MAX_EDGES``)
    with no NULL endpoint skip the iteration for driver-side union-find
    (:func:`_cc_native`, identical labels) when no ``checkpoint_dir`` is
    given.
    """
    if checkpoint_dir is not None:
        import uuid as _uuid

        spark = edges.sparkSession
        run_dir = f"{checkpoint_dir.rstrip('/')}/cc_{_uuid.uuid4().hex}"
        _hconf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        _jvm = spark._jvm  # type: ignore[attr-defined]
        _state: dict = {"i": 0, "prev": None}

        def _delete(path: str) -> None:
            p = _jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(_hconf).delete(p, True)

        def _freeze(d: DataFrame, name: str) -> DataFrame:
            # durable snapshot OUTSIDE the superseded-round deletion chain
            # (the node-id mapping must outlive every label round)
            path = f"{run_dir}/{name}"
            d.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        def _ckpt(d: DataFrame) -> DataFrame:
            path = f"{run_dir}/labels_{_state['i']}"
            _state["i"] += 1
            d.write.mode("overwrite").parquet(path)  # the eager action
            if _state["prev"] is not None:
                _delete(_state["prev"])  # superseded round, safe to drop
            _state["prev"] = path
            return spark.read.parquet(path)
    else:
        _freeze = lambda d, name: d.localCheckpoint(eager=True)  # noqa: E731
        _ckpt = lambda d: d.localCheckpoint(eager=True)  # noqa: E731
    id_type = edges.schema["id_a"].dataType
    integral = isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or (isinstance(id_type, T.DecimalType) and id_type.scale == 0)
    if checkpoint_dir is None:
        # bounded-edge fast path (see _cc_native): collect the edge list
        # (_bounded_collect), union-find on the driver.  NULL endpoints
        # (SQL join semantics never connect them) and the
        # reliable-checkpoint contract keep the distributed iteration.
        pdf = _bounded_collect(edges.select("id_a", "id_b"), _NATIVE_MAX_EDGES)
        if pdf is not None and not (
            pdf["id_a"].isna().any() or pdf["id_b"].isna().any()
        ):
            return _cc_native(edges, pdf)
    # Constraint propagation is DISABLED for the iteration: checkpointed
    # relations (LogicalRDD) retain origin isNotNull constraints over
    # attributes the surrounding projections have pruned, and Spark's
    # Union constraint rewriting then dies with
    # "java.util.NoSuchElementException: key not found: id#N" once the
    # encoded-edge lineage meets the pointer-jump self-join.  The rule
    # infers filters this loop never benefits from (there are no filters
    # to push), so turning it off is pure robustness; it is restored
    # after the result has been materialized.  The disable/restore is
    # DEPTH-COUNTED per session (module lock): a concurrent CC run on the
    # same session must not re-enable the rule mid-iteration under its
    # sibling -- the conf goes back to its original value only when the
    # LAST concurrent run finishes.
    spark_s = edges.sparkSession
    _cp_acquire(spark_s)
    sym = None
    try:
        nodes: DataFrame | None = None
        if not integral:
            # encode: one unique long per node, frozen (materialized) so
            # the assignment can never re-derive differently mid-iteration
            nodes = _freeze(
                edges.select(F.col("id_a").alias("orig"))
                .union(edges.select(F.col("id_b").alias("orig")))
                .distinct()
                .withColumn("nid", F.monotonically_increasing_id()),
                "nodes",
            )
            # freeze the encoded edge list too: a nodes self-join in the
            # per-round lineage would re-plan every iteration
            edges = _freeze(
                edges.join(
                    nodes.select(
                        F.col("orig").alias("id_a"), F.col("nid").alias("_na")
                    ),
                    "id_a",
                )
                .join(
                    nodes.select(
                        F.col("orig").alias("id_b"), F.col("nid").alias("_nb")
                    ),
                    "id_b",
                )
                .select(F.col("_na").alias("id_a"), F.col("_nb").alias("id_b")),
                "edges_encoded",
            )
        def _finish(out: DataFrame) -> DataFrame:
            # decode (non-integral ids): component = MIN ORIGINAL id per
            # component -- order-free (no requirement that nid order track
            # id order), two shuffles, fully distributed.  Materialized
            # via _ckpt so the caller consumes a flat relation, not a plan
            # that must re-optimize after constraint propagation returns.
            if nodes is None:
                return out
            decoded = out.join(nodes.withColumnRenamed("nid", "id"), "id")
            rep = decoded.groupBy("component").agg(F.min("orig").alias("_rep"))
            return _ckpt(
                decoded.join(rep, "component").select(
                    F.col("orig").alias("id"), F.col("_rep").alias("component")
                )
            )

        sym = (
            edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
            .persist()
        )
        labels = _ckpt(
            sym.select(F.col("src").alias("id")).distinct()
            .withColumn("label", F.col("id"))
        )
        # decimal(38,0) sum cannot overflow for < ~1e19 rows of long labels
        # (labels are ALWAYS integral here: non-integral ids were encoded)
        _sig = lambda d: d.agg(  # noqa: E731
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
        ).first()
        prev = _sig(labels)
        for it in range(max_iters):
            msgs = sym.join(
                labels.select(F.col("id").alias("src"), "label"), "src"
            ).select(F.col("dst").alias("id"), "label")
            new = (
                msgs.union(labels).groupBy("id").agg(F.min("label").alias("label"))
            )
            if it >= jump_after:
                # pointer jump: label <- label(label).  Every label VALUE
                # is a node id reachable from the node (labels only ever
                # arrive along edges or start as self), so composing
                # through the label table stays inside the component and
                # is monotone non-increasing -- same unique fixpoint
                # (component min), but label distance to the min roughly
                # doubles per round.
                new = new.alias("m").join(
                    new.select(
                        F.col("id").alias("label"), F.col("label").alias("_ll")
                    ),
                    "label",
                    "left",
                ).select("id", F.coalesce("_ll", F.col("label")).alias("label"))
            labels = _ckpt(new)
            cur = _sig(labels)
            if cur == prev:
                return _finish(labels.withColumnRenamed("label", "component"))
            prev = cur
    finally:
        _cp_release(spark_s)
        if sym is not None:
            sym.unpersist()
    raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")


def near_dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label EVERY document with its near-dup group (singletons are their
    own group): the end-to-end dedup shape at scale is
    candidates (LSH) -> VERIFY (``lsh_jaccard_verified``) -> connected
    components -> keep one per group (``filter(doc_id == group_id)``).

    Feed VERIFIED pairs, never raw LSH candidates: LSH is probabilistic,
    and a single false-positive edge transitively chains two unrelated
    dup-clusters into one component -- keep-one would then delete genuinely
    distinct documents.  (Tested: test_training_ops.py plants an FP candidate and
    asserts the verified path does not merge what the raw path would.)
    """
    comp = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("group_id"),
        )
    )


def near_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score: Column,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Quality-aware keep-one: label every doc with its near-dup group
    (``near_dedup_groups`` over VERIFIED pairs), then keep the
    HIGHEST-``score`` doc per group (ties -> lowest id) instead of the
    lowest-id one -- the survivor choice a real curation run wants, since
    near-dup cluster members differ (boilerplate variants, OCR noise) and
    keep-lowest-id throws that signal away.

    Output: one row per doc with ``group_id``, its ``score`` and the
    ``keep`` decision.  Scale shape: the group labels come from the
    connected-components path (hash keys only); the score join and the
    per-group ``row_number`` add ONE exchange on group_id -- group sizes
    are dup-cluster sizes, naturally small, so the window partitions are
    bounded.
    """
    from pyspark.sql import Window

    groups = near_dedup_groups(df, pairs, id_col, checkpoint_dir)
    scored = df.select(F.col(id_col).alias("doc_id"), score.alias("_score"))
    w = Window.partitionBy("group_id").orderBy(
        F.desc("_score"), F.asc("doc_id")
    )
    return (
        groups.join(scored, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "group_id",
            F.col("_score").alias("score"),
            (F.col("_rn") == 1).alias("keep"),
        )
    )


def dup_cluster_histogram(groups: DataFrame, n_col: str = "n") -> DataFrame:
    """Cluster-size distribution from an ``exact_dedup`` groups table:
    how much of the corpus is singletons vs 2x vs heavy-tail copies --
    the first chart of any dedup report, and the input to an effective-
    dataset-size estimate (``excess_docs`` is what deduping deletes).
    One map-side-combined aggregate over an already-aggregated table."""
    return groups.groupBy(F.col(n_col).cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col(n_col).cast("long") - 1).alias("excess_docs"),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    token_pattern: str = r"([a-z0-9]+)",
) -> DataFrame:
    """SimHash over word tokens (term frequency preserved), map-side only:
    bit i is set iff the majority of token hashes have bit i set.
    ``bits`` up to 60 (token hashes switch to h60 above 32 bits)."""
    hasher = h32 if bits <= 32 else h60
    tokens = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(token_pattern), 1)
    hashed = df.select(
        F.col(id_col).alias("id"), F.transform(tokens, hasher).alias("_hashes")
    ).withColumn("_n", F.size("_hashes"))
    def _bit_set(mask: int):
        # closure, NOT a default-arg lambda (see minhash note above)
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    sim = F.lit(0).cast("long")
    for i in range(bits):
        mask = 1 << i
        cnt = F.size(F.filter(F.col("_hashes"), _bit_set(mask)))
        sim = sim + F.when(cnt * 2 > F.col("_n"), F.lit(mask)).otherwise(F.lit(0))
    return hashed.select("id", sim.alias("simhash"))


def simhash_pairs_banded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    bits: int = 60,
    max_distance: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_distance``, via
    the Hamming-ball pigeonhole: split the ``bits``-bit hash into
    ``max_distance + 1`` equal bands -- two hashes within distance d differ
    in at most d bands, so at least one band is bit-identical.  Bucket-join
    on (band, band_value[, block]) for candidates (the same trick MinHash
    LSH uses, but EXACT: unlike probabilistic LSH the output provably
    equals the all-pairs result), then verify the full distance on
    candidates only.

    The shuffle carries (band, band_value, id, simhash) longs -- never
    documents, never a block-quadratic join.  Replaces all-pairs
    ``simhash_pairs`` as the default; keep that one as a small-block
    verifier.  ``bits`` must be divisible by ``max_distance + 1`` (60 bits
    / d=3 -> 4 bands x 15 bits).
    """
    bands = max_distance + 1
    if bits % bands:
        raise ValueError(f"bits={bits} must be divisible by bands={bands}")
    width = bits // bands
    base = simhash(df, id_col, text_col, bits)
    if block_col:
        blk = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
        base = base.join(blk, "id")
    else:
        base = base.withColumn("blk", F.lit(1))
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for b in range(bands)
        ]
    )
    buckets = base.select(
        "id", "simhash", "blk", F.posexplode(band_vals).alias("band", "bv")
    )
    a = buckets.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "band", "bv"
    )
    b = buckets.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "band", "bv"
    )
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # simhash is computed once (AQE reuses the bucket shuffle stage for
    # both join sides); verification (two-long bit_count) runs BEFORE the
    # distinct, so crowded buckets' candidates die in the join stage
    # instead of being shuffled into the dedup exchange
    return (
        a.join(b, ["blk", "band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", dist.cast("long"))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    bits: int = 32,
    max_distance: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance within a blocking key.

    All-pairs within the block: a SMALL-BLOCK VERIFIER only.  The scale
    path is ``simhash_pairs_banded`` (identical output, pigeonhole-bucketed
    join instead of block-quadratic)."""
    base = simhash(df, id_col, text_col, bits)
    if block_col:
        blk = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
        base = base.join(blk, "id")
    else:
        base = base.withColumn("blk", F.lit(1))
    a = base.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk")
    b = base.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk")
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", dist.cast("long"))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def _round6_spark(raw: float, digits: int = 6) -> float:
    """Replicate Spark's ``round(double, d)`` exactly: Scala
    ``BigDecimal(d)`` goes through ``Double.toString`` (shortest decimal
    repr), then HALF_UP at the given scale -- Python ``repr(float)`` is
    the same shortest repr, so Decimal(repr(x)) quantized HALF_UP is
    bit-identical."""
    import decimal

    return float(
        decimal.Decimal(repr(raw)).quantize(
            decimal.Decimal(1).scaleb(-digits),
            rounding=decimal.ROUND_HALF_UP,
        )
    )


def _winnow_overlap_native(
    sk: DataFrame,
    rows: "pd.DataFrame",
    min_overlap: float,
    max_hash_df: int | None,
) -> DataFrame:
    """Native-counting twin of the winnow pair join (optimization guide
    §4.2/§8: decide with small rows in vectorized native code, never
    materialize the quadratic pair stream through a shuffle).

    The exact operator is intrinsically Omega(sum_h df(h)^2) co-occurrence
    work -- at sf1.0 that is 11.7e9 joined rows for 33k output pairs, and
    the SMJ+partial-agg pipeline paid ~321 s for it.  Here the *postings*
    (doc index, hash) -- a few dozen bytes per doc, never text -- are
    collected once, compiled into a CSR inverted index, broadcast, and
    each task counts shared hashes for an interleaved block of docs with
    ``np.bincount`` over bucket tails (only partners with larger doc
    index, so every unordered pair is counted exactly once).  Identical
    integers and identical ``round(x, 6)`` doubles to the join path
    (see :func:`_round6_spark`).  ``rows`` is ``sk`` as collected by
    :func:`_bounded_collect`; beyond its cap the caller runs the
    distributed bucket join.
    """
    import numpy as np

    spark = sk.sparkSession
    id_type = sk.schema["id"].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, shared bigint, overlap double"

    n = len(rows)
    if n == 0:
        return spark.createDataFrame([], out_schema)

    raw_ids = rows["id"].tolist()
    sketches = rows["sketch"].tolist()
    # sort by id ascending under Spark's ordering (UTF8 = byte order for
    # strings) so that partner index j > i  <=>  id_a < id_b
    if isinstance(raw_ids[0], str):
        order = sorted(range(n), key=lambda i: raw_ids[i].encode("utf-8"))
    else:
        order = sorted(range(n), key=lambda i: raw_ids[i])
    ids_np = np.array([raw_ids[i] for i in order])
    sketches = [np.asarray(sketches[i], dtype=np.int64) for i in order]
    sz = np.fromiter((s.size for s in sketches), dtype=np.int64, count=n)

    doc_idx = np.repeat(np.arange(n, dtype=np.int32), sz)
    hvals = (
        np.concatenate(sketches) if doc_idx.size else np.empty(0, np.int64)
    )
    _, hidx = np.unique(hvals, return_inverse=True)
    hidx = hidx.astype(np.int64)
    if max_hash_df is not None:
        dfh = np.bincount(hidx, minlength=hidx.max() + 1 if hidx.size else 0)
        keep = dfh[hidx] <= max_hash_df
        doc_kept, hidx = doc_idx[keep], hidx[keep]
    else:
        doc_kept = doc_idx
    total = doc_kept.size
    nh = int(hidx.max()) + 1 if total else 0
    counts = np.bincount(hidx, minlength=nh)
    boff = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
    # postings are doc-major ascending, so a stable sort by hash keeps doc
    # index ascending inside each bucket
    order2 = np.argsort(hidx, kind="stable")
    bucket_docs = doc_kept[order2]
    pos = np.empty(total, dtype=np.int64)
    pos[order2] = np.arange(total, dtype=np.int64) - boff[hidx[order2]]
    # per posting: the tail of its bucket holding only larger doc indices
    slice_start = (boff[hidx] + pos + 1).astype(np.int64)
    slice_end = boff[hidx + 1].astype(np.int64)
    dcounts = np.bincount(doc_kept, minlength=n)
    doc_off = np.concatenate([[0], np.cumsum(dcounts)]).astype(np.int64)

    bc = spark.sparkContext.broadcast(
        {
            "ids": ids_np,
            "sz": sz,
            "bucket_docs": bucket_docs,
            "slice_start": slice_start,
            "slice_end": slice_end,
            "doc_off": doc_off,
        }
    )
    n_blocks = max(spark.sparkContext.defaultParallelism * 4, 1)
    numeric_ids = ids_np.dtype.kind in "iu"
    id_np_dtype = ids_np.dtype if numeric_ids else object
    margin = min_overlap - 1e-6

    def count_blocks(batches):
        b = bc.value
        ids_l, sz_l = b["ids"], b["sz"]
        bdocs, s0, s1, doff = (
            b["bucket_docs"],
            b["slice_start"],
            b["slice_end"],
            b["doc_off"],
        )

        def empty():
            return pd.DataFrame(
                {
                    "id_a": np.empty(0, id_np_dtype),
                    "id_b": np.empty(0, id_np_dtype),
                    "shared": np.empty(0, np.int64),
                    "overlap": np.empty(0, np.float64),
                }
            )

        for pdfb in batches:
            out_a, out_b, out_s, out_o = [], [], [], []
            for blk in pdfb["id"].tolist():
                for i in range(int(blk), n, n_blocks):
                    lo, hi = doff[i], doff[i + 1]
                    if hi == lo:
                        continue
                    parts = [
                        bdocs[a:z]
                        for a, z in zip(s0[lo:hi], s1[lo:hi])
                        if z > a
                    ]
                    if not parts:
                        continue
                    cat = np.concatenate(parts)
                    cnt = np.bincount(cat)
                    nz = np.flatnonzero(cnt)
                    if nz.size == 0:
                        continue
                    c = cnt[nz]
                    m = np.minimum(sz_l[nz], sz_l[i])
                    raw = c / m
                    sel = np.flatnonzero(raw >= margin)
                    if sel.size == 0:
                        continue
                    ov = np.fromiter(
                        (_round6_spark(v) for v in raw[sel]),
                        dtype=np.float64,
                        count=sel.size,
                    )
                    ok = ov >= min_overlap
                    if numeric_ids:
                        ok &= ids_l[nz[sel]] != ids_l[i]
                    else:
                        ok &= np.array(
                            [x != ids_l[i] for x in ids_l[nz[sel]]], bool
                        )
                    sel = sel[ok]
                    if sel.size == 0:
                        continue
                    out_a.append(np.full(sel.size, ids_l[i], id_np_dtype))
                    out_b.append(ids_l[nz[sel]])
                    out_s.append(c[sel].astype(np.int64))
                    out_o.append(ov[ok])
            if not out_a:
                yield empty()
            else:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "shared": np.concatenate(out_s),
                        "overlap": np.concatenate(out_o),
                    }
                )

    blocks = spark.range(0, n_blocks, 1, numPartitions=n_blocks)
    return blocks.mapInPandas(count_blocks, out_schema)


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    select_every: int = 4,
    min_overlap: float = 0.5,
    max_hash_df: int | None = None,
) -> DataFrame:
    """Containment/overlap candidate pairs from winnowing sketches
    (textstats.winnow_fingerprint): explode each document's selected
    rolling-hash sketch, bucket-join on the hash, count shared hashes per
    pair, and score ``overlap = shared / min(|sketch_a|, |sketch_b|)``.

    The sketch comes from the Arrow-batched numpy twin of
    ``winnow_fingerprint`` (~10x the interpreted-HOF fold's throughput,
    identical integers -- tested equal and oracle-checked).

    The min-denominator makes this a CONTAINMENT score: a short document
    pasted into a long one shares most of the short side's sketch, so the
    pair scores high even though whole-doc Jaccard (union denominator)
    would bury it.  This is the overlap analogue of the LSH candidate
    paths and shares their scale shape -- the join is keyed on the hash
    (signatures move, never text), AQE reuses the exploded exchange for
    both self-join sides, and no pair is formed outside a shared bucket.

    ``max_hash_df`` optionally drops hashes appearing in more than that
    many documents (boilerplate windows crowd buckets into B^2 pair
    blowups).  Dropped hashes can only LOWER shared counts -- recall-safe
    for containment of distinctive content, lossy for docs made entirely
    of boilerplate; the denominator stays the full sketch size, so the
    score never inflates.  Empty-after-normalization docs carry no
    content to overlap and are excluded.

    Execution strategy (r7 optimization): the exact score needs the full
    co-occurrence count, which is Omega(sum_h df(h)^2) regardless of plan
    shape -- boilerplate windows make that quadratic term brutal (sf1.0:
    11.7e9 joined rows for 33k output pairs; the join+agg paid 321 s in
    the round-6 driver bench).  Corpora of up to ``_NATIVE_MAX_DOCS``
    non-empty docs (:func:`_bounded_collect`) therefore run
    :func:`_winnow_overlap_native`: one sketch pass, then the (doc, hash)
    postings -- a lightweight proxy, never text (guide §8) -- are
    broadcast as a CSR inverted index and every task bincounts an
    interleaved doc block in numpy (guide §4.2).  Identical rows,
    integers and rounded doubles (oracle-checked).  Larger corpora keep
    the distributed hash-bucket join below, whose exchange carries only
    (id, sz, h).
    """
    from mariadb_to_graylog_spark.operators.textstats import (
        normalize_text,
        winnow_fingerprint_pandas,
    )

    sketch = winnow_fingerprint_pandas(window, select_every)(F.col(text_col))
    # id type preserved (like every sibling pair operator): a cast-to-long
    # here silently nulled string ids and dropped every pair
    sk = df.select(
        F.col(id_col).alias("id"),
        sketch.alias("sketch"),
    ).filter(F.length(normalize_text(F.col(text_col))) > 0)
    rows = _bounded_collect(sk, _NATIVE_MAX_DOCS)
    if rows is not None:
        return _winnow_overlap_native(sk, rows, min_overlap, max_hash_df)
    ex = sk.select(
        "id", F.size("sketch").alias("sz"), F.explode("sketch").alias("h")
    )
    if max_hash_df is not None:
        crowded = (
            ex.groupBy("h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_hash_df)
            .select("h")
        )
        ex = ex.join(F.broadcast(crowded), "h", "left_anti")
    a = ex.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "h")
    b = ex.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    overlap = F.col("shared").cast("double") / F.least("sz_a", "sz_b").cast("double")
    return (
        shared.withColumn("overlap", F.round(overlap, 6))
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", F.col("shared").cast("long").alias("shared"), "overlap")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership prefilter (incremental ingest at corpus scale)
# ---------------------------------------------------------------------------


def bloom_positions(
    key: Column, m_bits: int = 1 << 20, k: int = 3
) -> Column:
    """``k`` bloom bit positions for a key, derived from disjoint 32-bit
    slices of ONE md5 (standard k-hashes-from-one-digest construction):
    position_i = int(md5_hex[8i .. 8i+7]) % m_bits.

    Portable by the same rule as :func:`h32`: DuckDB computes the
    identical positions as ``('0x' || substr(md5(key), 1+8*i, 8))::BIGINT
    % m_bits``.  One digest per row, map-side, zero shuffle.
    """
    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (md5 yields four 32-bit slices)")
    h = F.md5(key)
    return F.array(
        *[
            (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % m_bits)
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame,
    key_col: Column,
    m_bits: int = 1 << 20,
    k: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """The corpus side of the bloom filter as a DISTINCT set-bit table
    (one ``pos`` long per set bit, <= m_bits rows REGARDLESS of corpus
    size -- the same bounded-collapse trick as the PQ distinct-code
    table).  At m = 2^20 that is at most ~8 MB: broadcastable, and the
    build is one map-side digest pass + one distinct on a long.

    Sizing (docstring math, enforced nowhere -- the fill ratio is
    REPORTED by :func:`bloom_prefilter_report` so the operator tells you
    when it's saturating): false-positive rate ~= fill^k where
    fill = set_bits / m_bits; n keys set at most k*n bits, so for
    10^9 keys at k=3 you want m >= 2^33 -- beyond one broadcast, at
    which point the same code runs with the set-bit table left
    DISTRIBUTED (the joins below become shuffle hash joins partitioned
    by pos), or sharded by key range so each shard's bloom stays
    broadcast-sized.  The point of the prefilter is unchanged: the
    EXPENSIVE verify (full-key join against the corpus) only ever sees
    bloom-positive rows.
    """
    out = df.select(
        F.explode(bloom_positions(key_col, m_bits, k)).alias("pos")
    ).distinct()
    # the filter is an INDEX: built once, probed many times (k joins +
    # fill-ratio report).  Same materialization rule as the IVF-PQ code
    # table -- localCheckpoint here, a table write at cluster scale.
    # materialize=False keeps the lazy lineage for single-use callers.
    return out.localCheckpoint(eager=True) if materialize else out


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    key_col: Column,
    m_bits: int = 1 << 20,
    k: int = 3,
    out_col: str = "bloom_positive",
) -> DataFrame:
    """Probe each batch row against the set-bit table: positive iff ALL
    ``k`` positions are set.  k broadcast hash joins on ``pos`` (the same
    broadcast relation reused), NO exchange on the batch side and no
    explode -- the batch never shuffles."""
    out = batch.withColumn("_bp", bloom_positions(key_col, m_bits, k))
    flags = []
    for i in range(k):
        side = F.broadcast(
            bloom.select(F.col("pos").alias(f"_set{i}"))
        )
        out = out.join(
            side, F.element_at(F.col("_bp"), i + 1) == F.col(f"_set{i}"), "left"
        )
        flags.append(F.col(f"_set{i}").isNotNull())
    positive = flags[0]
    for f in flags[1:]:
        positive = positive & f
    return out.withColumn(out_col, positive).drop(
        "_bp", *[f"_set{i}" for i in range(k)]
    )


def prefix_dup_stats(
    df: DataFrame,
    k_tokens: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Truncation/pagination duplicate families: documents sharing an
    identical normalized first-``k_tokens`` prefix (the crawl pathology
    exact dedup misses -- a page and its truncated re-crawl differ as
    wholes but are the same document cut short; Lee et al.'s suffix work
    catches it as substring overlap at ~100x the cost).

    One row per family with >= ``min_docs`` members: member count,
    DISTINCT full-text variants (1 == pure exact dups of each other;
    >1 == genuine truncation/continuation family), lowest member id as
    the canonical survivor.

    Scale: map-side normalize + slice + md5; ONE exchange of
    (prefix_h, full_h, id) 72-byte tuples; text never shuffles.  The
    two-level count/count_distinct is a partial-agg'd groupBy on the
    32-byte prefix key."""
    from mariadb_to_graylog_spark.operators.textstats import normalize_text

    toks = F.split(normalize_text(F.col(text_col)), " ")
    keyed = df.filter(F.size(toks) >= k_tokens).select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.array_join(F.slice(toks, 1, k_tokens), " ")).alias(
            "prefix_h"
        ),
        F.md5(normalize_text(F.col(text_col))).alias("_full"),
    )
    return (
        keyed.groupBy("prefix_h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("_full").cast("long").alias("n_variants"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


DEFAULT_BANDING_GRID: tuple[tuple[int, int], ...] = ((2, 16), (4, 8), (8, 4), (16, 2))


def lsh_banding_planner(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
    grid: tuple[tuple[int, int], ...] = DEFAULT_BANDING_GRID,
    threshold: float = 0.5,
) -> DataFrame:
    """Banding decision table: for each candidate (bands b, rows r)
    configuration in ``grid`` (all with b*r = the measured k), the
    expected detection probability 1-(1-s^r)^b AVERAGED over the
    corpus's own measured pair-similarity profile -- split into pairs
    at/above ``threshold`` (wanted: recall) and below it (unwanted:
    candidate-verification overhead).  This is the table you read before
    re-banding a 100 TB dedup run: steeper bandings (more rows/band) cut
    wasted verifications but shed borderline true pairs, and the right
    trade depends on THIS corpus's similarity histogram, not the
    textbook S-curve alone.

    The similarity profile comes from ``minhash_jaccard_estimate`` at
    threshold 0 -- i.e. it is CONDITIONED on the reference banding's
    candidate set (pairs the reference banding never surfaces are not in
    the profile; stated, not hidden).  s is the exact rational m/k
    (collision fraction), detection probability is evaluated by repeated
    IEEE multiplication (no libm pow), and every output is an integer
    ppm from floor() -- so the DuckDB oracle reproduces values
    bit-for-bit with no float-sum-order hazard.

    Returns one row per grid entry: (bands, rows_per_band, s50_ppm,
    n_hi, n_lo, exp_detect_hi_ppm, exp_detect_lo_ppm) where s50_ppm is
    the theoretical 50%-detection similarity (1/b)^(1/r) as ppm
    (computed driver-side from the two literals) and exp_detect_*_ppm
    are mean detection probabilities over the hi/lo pair populations."""
    k = bands * rows_per_band
    est = minhash_jaccard_estimate(
        df, id_col, text_col, shingle_n, bands, rows_per_band, threshold=0.0
    )
    s = F.col("est_jaccard")

    def _pow(col, p: int):
        out = col
        for _ in range(p - 1):
            out = out * col
        return out

    arms = []
    for b, r in grid:
        if b * r != k:
            raise ValueError(f"grid entry ({b},{r}) does not multiply to k={k}")
        p_detect = F.lit(1.0) - _pow(F.lit(1.0) - _pow(s, r), b)
        arms.append(
            F.struct(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.lit(int((1.0 / b) ** (1.0 / r) * 1_000_000)).cast("long").alias("s50_ppm"),
                F.floor(p_detect * 1_000_000).cast("long").alias("_ppm"),
            )
        )
    per_pair = est.select(
        s.alias("_s"), F.explode(F.array(*arms)).alias("_cfg")
    ).select("_s", "_cfg.*")
    hi = F.col("_s") >= threshold
    sums = per_pair.groupBy("bands", "rows_per_band", "s50_ppm").agg(
        F.sum(hi.cast("long")).cast("long").alias("n_hi"),
        F.sum((~hi).cast("long")).cast("long").alias("n_lo"),
        F.sum(F.when(hi, F.col("_ppm")).otherwise(0)).cast("long").alias("_hi_sum"),
        F.sum(F.when(~hi, F.col("_ppm")).otherwise(0)).cast("long").alias("_lo_sum"),
    )
    # explicit zero-guards, not bare division: an empty hi/lo population
    # must yield NULL identically under ANSI on/off and in DuckDB
    return sums.select(
        "bands",
        "rows_per_band",
        "s50_ppm",
        "n_hi",
        "n_lo",
        F.when(F.col("n_hi") > 0, F.floor(F.col("_hi_sum") / F.col("n_hi")))
        .cast("long")
        .alias("exp_detect_hi_ppm"),
        F.when(F.col("n_lo") > 0, F.floor(F.col("_lo_sum") / F.col("n_lo")))
        .cast("long")
        .alias("exp_detect_lo_ppm"),
    )


def _containment_native(
    spark,
    pdf: "pd.DataFrame",
    id_type,
    rare_cap: int,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Native candidate+verify stage of :func:`containment_pairs` for
    bounded corpora (r7 optimization).  The distributed plan paid ~8 s at
    sf1.0 just exploding and re-aggregating the 14M (id, gram) postings
    for the frequency cap, then joined the gram arrays back twice; here
    the ALREADY-COMPUTED gram arrays are collected once
    (:func:`_bounded_collect`) and the rest is numpy: bincount for gram
    frequency, bucket pair emission over rare grams (the identical
    rare_cap^2/2 structural bound as the join), and a searchsorted
    intersection per distinct candidate pair.  Identical
    integers, identical ``round(x, d)`` doubles (:func:`_round6_spark`)."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("id_inner", id_type),
            T.StructField("id_outer", id_type),
            T.StructField("n_inner_grams", T.LongType()),
            T.StructField("n_inter", T.LongType()),
            T.StructField("containment", T.DoubleType()),
        ]
    )
    nrows = len(pdf)
    if nrows == 0:
        return spark.createDataFrame([], out_schema)
    raw_ids = pdf["id"].tolist()
    if isinstance(raw_ids[0], str):
        order = sorted(range(nrows), key=lambda i: raw_ids[i].encode("utf-8"))
    else:
        order = sorted(range(nrows), key=lambda i: raw_ids[i])
    ids = [raw_ids[i] for i in order]
    arrs = [
        np.sort(np.asarray(pdf["grams"].iloc[i], dtype=np.int64))
        for i in order
    ]
    sz = np.fromiter((a.size for a in arrs), np.int64, count=nrows)
    doc_idx = np.repeat(np.arange(nrows, dtype=np.int64), sz)
    hvals = np.concatenate(arrs) if doc_idx.size else np.empty(0, np.int64)
    _, hidx = np.unique(hvals, return_inverse=True)
    dfh = np.bincount(hidx) if hidx.size else np.empty(0, np.int64)
    rm = dfh[hidx] <= rare_cap if hidx.size else np.empty(0, bool)
    rdoc, rh = doc_idx[rm], hidx[rm]
    ordr = np.argsort(rh, kind="stable")
    rdoc = rdoc[ordr]
    bcounts = np.bincount(rh[ordr]) if rh.size else np.empty(0, np.int64)
    boff = np.concatenate([[0], np.cumsum(bcounts)])
    pa, pb = [], []
    for bi in np.flatnonzero(bcounts >= 2):
        db = rdoc[boff[bi] : boff[bi + 1]]  # doc idx ascending (stable sort)
        ii, jj = np.triu_indices(db.size, k=1)
        pa.append(db[ii])
        pb.append(db[jj])
    if not pa:
        return spark.createDataFrame([], out_schema)
    pk = np.unique(np.concatenate(pa) * nrows + np.concatenate(pb))
    ia, ib = pk // nrows, pk % nrows
    rows = []
    for xa, xb in zip(ia.tolist(), ib.tolist()):
        ga, gb = arrs[xa], arrs[xb]
        # searchsorted the smaller into the larger
        if ga.size <= gb.size:
            sm, lg = ga, gb
        else:
            sm, lg = gb, ga
        pos = np.searchsorted(lg, sm)
        ok = pos < lg.size
        inter = int((lg[pos[ok]] == sm[ok]).sum())
        na, nb = int(sz[xa]), int(sz[xb])
        # inner = smaller distinct-gram set; ties -> lower id (xa < xb
        # already in id order)
        if na < nb or (na == nb):
            xin, xout, nin = xa, xb, na
        else:
            xin, xout, nin = xb, xa, nb
        c = _round6_spark(inter / nin, round_digits)
        if c >= threshold:
            rows.append((ids[xin], ids[xout], nin, inter, c))
    return spark.createDataFrame(rows, out_schema)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    rare_cap: int = 20,
    threshold: float = 0.9,
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric SET-CONTAINMENT dedup: find (inner, outer) document
    pairs where nearly every word ``n``-gram of the inner doc also occurs
    in the outer -- quotes, excerpts, pages republished inside a larger
    shell, concatenated digests.  Jaccard-based near-dedup is structurally
    blind to these (a 100-word quote inside a 10k-word page has Jaccard
    ~0.01); ``shared_ngram_pairs`` finds them but joins on EVERY gram,
    which is exactly the join the occurrence cap must then police.

    Candidate generation joins on RARE grams only (corpus frequency <=
    ``rare_cap``): if doc A is contained in doc B, then every gram of A
    -- including A's rarest -- is also in B, so any contained doc that
    has at least one sub-cap gram is guaranteed to surface.  Pair
    emission per gram is bounded by rare_cap^2/2 BY CONSTRUCTION (no
    loud-drop trade-off: frequent grams are skipped for candidates but
    still counted in the verify), and the exact intersection is computed
    for candidate pairs only, as one (h, id) equi-join -- text never
    moves, only 8-byte detection hashes (h32; nothing destructive here).

    Blind spot, stated not hidden: an inner doc built ENTIRELY of
    above-cap boilerplate grams has no rare gram to surface on; such
    docs are cluster signals for paragraph/exact dedup, and
    ``ngram_bucket_stats`` quantifies the gram mass above any cap.

    Returns (id_inner, id_outer, n_inner_grams, n_inter, containment)
    with containment = |G(inner) ^ G(outer)| / |G(inner)| rounded to
    ``round_digits`` BEFORE the threshold test (oracle thresholds the
    same value).  inner = the doc with the SMALLER distinct-gram set
    (ties: lower id), so each unordered pair appears at most once.

    Corpora of up to ``_NATIVE_MAX_DOCS`` docs (:func:`_bounded_collect`)
    run :func:`_containment_native` instead of the joins below, with
    identical rows.
    """
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_hashes

    # gram ARRAYS are map-side per consumer (no shuffled gram table to
    # recompute 5x: the r6 ladder measured the exploded-g variant at
    # 12.9s/25k pages; this shape cut the explode passes to two)
    garr = df.select(
        F.col(id_col).alias("id"),
        word_ngram_hashes(F.col(text_col), n).alias("grams"),
    )
    pdf = _bounded_collect(garr, _NATIVE_MAX_DOCS)
    if pdf is not None:
        return _containment_native(
            df.sparkSession,
            pdf,
            df.schema[id_col].dataType,
            rare_cap,
            threshold,
            round_digits,
        )
    g = garr.select("id", F.explode("grams").alias("h"))
    freq = g.groupBy("h").agg(F.count(F.lit(1)).alias("_f"))
    rare = g.join(freq.filter(F.col("_f") <= rare_cap), "h").drop("_f")
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "h")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # verify on candidate pairs only: arrays travel once per side, the
    # intersection is a map-side HOF (fuzzy_contamination's idiom)
    scored = (
        cand.join(
            garr.select(F.col("id").alias("id_a"), F.col("grams").alias("_ga")),
            "id_a",
        )
        .join(
            garr.select(F.col("id").alias("id_b"), F.col("grams").alias("_gb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ga", "_gb")).cast("long").alias("n_inter"),
            F.size("_ga").cast("long").alias("n_a"),
            F.size("_gb").cast("long").alias("n_b"),
        )
    )
    a_inner = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    out = scored.select(
        F.when(a_inner, F.col("id_a")).otherwise(F.col("id_b")).alias("id_inner"),
        F.when(a_inner, F.col("id_b")).otherwise(F.col("id_a")).alias("id_outer"),
        F.when(a_inner, F.col("n_a")).otherwise(F.col("n_b")).alias("n_inner_grams"),
        F.col("n_inter"),
    ).withColumn(
        "containment",
        F.round(
            F.col("n_inter").cast("double") / F.col("n_inner_grams").cast("double"),
            round_digits,
        ),
    )
    return out.filter(F.col("containment") >= threshold)


def incremental_neardup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    round_digits: int = 6,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Daily-crawl NEAR-dup ingestion gate: check a new ``batch`` against
    the existing ``corpus`` for MinHash-LSH near-duplicates WITHOUT
    re-deduping the corpus -- the fuzzy twin of ``q_incremental_dedup``
    (exact md5 + verbatim-overlap), catching the re-crawls that arrive
    lightly edited (timestamps, ads, template drift) and so slip every
    exact key.

    Returns ONE row per batch document:
    (doc_id, decision, match_id, jaccard) with decision =
    ``'near_duplicate'`` when the best verified corpus match reaches
    ``threshold`` (char ``n``-gram Jaccard, rounded before the test),
    else ``'kept'`` (match columns NULL).  Best match = highest jaccard,
    ties to the lowest corpus id -- deterministic.

    Scale shape: the corpus side collapses to its (band, sig struct)
    bucket table -- THE INDEX, `bands` rows of a few longs per corpus
    doc; at 10^12 docs this table is written once (localCheckpoint /
    table write, the bloom/IVF-PQ materialization idiom) and each daily
    batch probes it with a distributed equi-join on the band key
    (nothing is broadcast or collected: the corpus side is
    corpus-sized by definition).  Corpus TEXT moves only for candidate
    ids -- the verify joins gram arrays for candidate pairs only, and
    the final per-batch-doc best-match aggregate shuffles candidate
    rows, not the batch.  Recall follows the banding S-curve
    (``lsh_banding_planner`` is the sizing table); the exact-md5 lane
    (``q_incremental_dedup``) remains the backstop for verbatim
    re-crawls.

    ``corpus_buckets`` passes a PRE-BUILT index (``build_neardup_index``,
    persisted or table-backed) so repeat callers -- a micro-batch stream
    gating every trigger, a daily cron -- pay the corpus signature pass
    once, not per call.  It must come from the same (shingle_n, bands,
    rows_per_band); the verify step reads corpus text by id and (since
    r7) derives corpus grams for CANDIDATE rows only -- a gate call no
    longer pays an O(corpus) char_ngrams pass per trigger.
    """
    cb = (
        corpus_buckets
        if corpus_buckets is not None
        else lsh_buckets(corpus, id_col, text_col, shingle_n, bands, rows_per_band)
    )
    bb = lsh_buckets(batch, id_col, text_col, shingle_n, bands, rows_per_band)
    cand = (
        bb.withColumnRenamed("id", "_bid")
        .join(cb.withColumnRenamed("id", "_cid"), ["band", "sig"])
        .select("_bid", "_cid")
        .distinct()
    )
    bg = batch.select(
        F.col(id_col).alias("_bid"),
        char_ngrams(F.col(text_col), n).alias("_g_b"),
    )
    # r7 (round-6 advice, medium): corpus grams are computed ABOVE the
    # candidate join, so the char_ngrams pass runs over candidate rows
    # only -- the previous shape derived grams for EVERY corpus document
    # per call, an O(corpus) scan each micro-batch trigger even with a
    # pre-built bucket index.  Values are identical (same expression per
    # row); a corpus doc appearing in several candidate pairs re-derives
    # its grams per pair, which is the right trade at gate cardinalities
    # (candidates per corpus doc ~ 1).
    ct = corpus.select(F.col(id_col).alias("_cid"), F.col(text_col).alias("_ct"))
    inter = F.size(F.array_intersect("_g_b", "_g_c")).cast("double")
    union = F.size(F.array_union("_g_b", "_g_c")).cast("double")
    verified = (
        cand.join(bg, "_bid")
        .join(ct, "_cid")
        .withColumn("_g_c", char_ngrams(F.col("_ct"), n))
        .withColumn("jaccard", F.round(inter / union, round_digits))
        .filter(F.col("jaccard") >= threshold)
    )
    # best = highest jaccard, ties to the lowest corpus id: min over
    # (-j, id) -- id-type-agnostic (string ids stay strings, the
    # module-wide CC contract)
    best = verified.groupBy("_bid").agg(
        F.min(
            F.struct((-F.col("jaccard")).alias("negj"), F.col("_cid").alias("cid"))
        ).alias("_best")
    )
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(best.withColumnRenamed("_bid", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_best").isNotNull(), F.lit("near_duplicate"))
            .otherwise(F.lit("kept"))
            .alias("decision"),
            F.col("_best.cid").alias("match_id"),
            (-F.col("_best.negj")).alias("jaccard"),
        )
    )


def build_neardup_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
) -> DataFrame:
    """The corpus MinHash bucket INDEX for ``incremental_neardup`` --
    (id, band, sig-struct) rows, ``bands`` per corpus doc.  Build once,
    persist (or write as a table at 10^12 scale), and pass to every
    gate call as ``corpus_buckets``: the signature pass over the corpus
    is the dominant cost of a single gate call and is batch-invariant."""
    return lsh_buckets(corpus, id_col, text_col, shingle_n, bands, rows_per_band)
