"""Paragraph-level deduplication: the standard web-corpus cleaner that
whole-document dedup misses (CCNet/C4/RefinedWeb all dedup paragraphs or
lines, not only documents).

Shape: explode documents into paragraphs (split on blank-line runs), hash
each paragraph, count how many DISTINCT documents contain it, then either
aggregate per-document duplication stats (``paragraph_stats``) or
reassemble documents with the boilerplate paragraphs removed
(``drop_duplicate_paragraphs``).

Scale shape (100 TB):

* the frequency table shuffles only (md5-hash, doc_id) pairs -- 32-byte
  keys, never paragraph text -- and the per-hash distinct-doc count is a
  standard two-phase aggregate;
* the stats path joins paragraph METADATA (doc_id, hash, char count) to
  the frequency table, so paragraph text crosses a shuffle only on the
  reconstruction path, where it is unavoidable (the cleaned text is the
  output) and crosses exactly twice (hash join + per-doc reassembly);
* ``exact=False`` swaps count(distinct doc_id) for approx_count_distinct
  -- a mergeable HLL sketch, one shuffle of sketch bytes instead of an
  expand -- the right default at 10^9+ documents where "appears in >= 2
  docs" only needs +-2% accuracy.

Not in the reference (it has no dedup of any kind); a first-class
training-data extension like operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARA_SEP = r"\n\s*\n"


def explode_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = PARA_SEP,
) -> DataFrame:
    """(doc_id, para_idx, para) -- one row per non-empty trimmed paragraph,
    ``para_idx`` = 0-based position within the document (blank-run
    separators collapse; leading/trailing whitespace per paragraph is
    trimmed, empty paragraphs are dropped WITHOUT renumbering the
    surviving indexes so reassembly order is stable)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("para_idx", "para"),
        )
        .withColumn("para", F.trim("para"))
        .filter(F.length("para") > 0)
    )


def paragraph_frequency(
    paras: DataFrame, exact: bool = True, rsd: float = 0.02
) -> DataFrame:
    """(h, n_docs) -- md5 hash of each distinct paragraph and the number of
    DISTINCT documents containing it.  ``exact=False`` uses
    approx_count_distinct (HLL, relative error ``rsd``): mergeable
    map-side sketches instead of a count-distinct expand -- the 100 TB
    default, where the >= min_docs test tolerates +-2%."""
    keyed = paras.select(F.md5("para").alias("h"), "doc_id")
    agg = (
        F.count_distinct("doc_id")
        if exact
        else F.approx_count_distinct("doc_id", rsd)
    )
    return keyed.groupBy("h").agg(agg.cast("long").alias("n_docs"))


def paragraph_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-document paragraph-duplication profile:

    (doc_id, n_paras, n_dup_paras, dup_para_ratio, boilerplate_frac)

    where a paragraph is a DUPLICATE if it appears in >= ``min_docs``
    distinct documents, ``dup_para_ratio`` = duplicate paragraphs /
    paragraphs, ``boilerplate_frac`` = characters inside duplicate
    paragraphs / all paragraph characters.  Only (doc_id, hash, length)
    tuples move through the joins -- paragraph text never shuffles."""
    # ONE explode feeds both sides: the frequency table is derived from
    # the same (doc_id, h, n_chars) projection it later joins back to, so
    # the input is scanned once and AQE can reuse the hash-partitioned
    # exchange across the groupBy and the join
    paras = explode_paragraphs(df, id_col, text_col).select(
        "doc_id", F.md5("para").alias("h"), F.length("para").alias("n_chars")
    )
    # same rsd default as paragraph_frequency so stats and the cleaner
    # classify identically at the min_docs boundary in approx mode
    agg = (
        F.count_distinct("doc_id")
        if exact
        else F.approx_count_distinct("doc_id", rsd)
    )
    freq = paras.groupBy("h").agg(agg.cast("long").alias("n_docs"))
    dup = F.col("n_docs") >= min_docs
    return (
        paras.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(dup.cast("long")).alias("n_dup_paras"),
            F.round(
                F.sum(dup.cast("long")) / F.count(F.lit(1)), 6
            ).alias("dup_para_ratio"),
            F.round(
                F.sum(F.when(dup, F.col("n_chars")).otherwise(0))
                / F.sum("n_chars"),
                6,
            ).alias("boilerplate_frac"),
        )
    )


def near_paragraph_frequency(
    paras: DataFrame,
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
    n: int = 3,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
    exact: bool = True,
    rsd: float = 0.02,
    persist_units: bool = False,
    cache_out: list | None = None,
) -> DataFrame:
    """(h, n_near_docs) -- for each distinct paragraph (md5 key), the
    number of DISTINCT documents containing it *or a near-duplicate of
    it*.  The near relation is LSH-verified n-gram Jaccard run at
    PARAGRAPH granularity over the distinct-paragraph table, expanded
    ONE HOP (a paragraph's neighborhood = itself + its verified pairs).
    One hop, not transitive closure, by design: near-boilerplate is a
    pairwise-similarity property, and transitive chaining (A~B~C with
    A!~C) would let a drifting template chain arbitrarily-dissimilar
    paragraphs into one cluster -- run ``dedup.connected_components``
    over the pair list when cluster semantics are wanted.

    Scale shape: the unit table groups occurrences by 32-byte hash with
    map-side partial agg (min over identical texts), so each distinct
    paragraph's text crosses the wire ~once per upstream partition it
    occurs in, NOT once per occurrence -- boilerplate collapses before it
    moves.  LSH banding/verification then runs on distinct paragraphs
    (strictly fewer rows than the corpus), and the neighbor expansion is
    ONE join: the pair list is closed with self-loops (h, h), so own-doc
    and neighbor-doc occurrences arrive through the same (nb -> doc_id)
    join instead of a union of two separately-shuffled branches -- only
    32-byte hash tuples move, never text.

    Perf note (round-6 A/B at sf0.1/96 partitions, receipts in
    BENCH/DEDUP.md): a variant that carried gram arrays through the
    bucket shuffle to "fuse" the verify stage measured ~2x SLOWER
    (12.6s vs 6.4s) and was dropped; the actual 10.2s -> 6.4s win came
    from (a) this self-loop closure join and (b) the codegen minhash
    engine in ``dedup.minhash_signatures``, whose groupBy exchange stops
    broadcast self-joins from recomputing signatures per side."""
    from mariadb_to_graylog_spark.operators.dedup import lsh_jaccard_verified

    # ``persist_units`` caches the distinct-unit table, which the
    # LSH-verified chain consumes four times (bucket relation + both
    # gram sides + the neighbor side).  MEASURED BOTH WAYS, default OFF:
    # on a small corpus under the default session config the recompute
    # dominated (9.5s -> 4.3s with the cache at sf0.1/32 partitions),
    # but at 25k-page/96-partition bench scale the cache made the whole
    # pass 2.2x SLOWER (11s -> 24s, reproducible A/B) -- an
    # InMemoryRelation input deprives AQE of the runtime-stats planning
    # and exchange reuse that make the recomputed lineage cheap, and the
    # lineage is all map-side work that scales, while cache-vs-AQE loss
    # grows.  When enabled, note Dataset caches are NOT auto-released on
    # GC (CacheManager holds them until unpersist or session stop): the
    # handle is exposed as ``result.units_cache`` and long-lived drivers
    # must ``result.units_cache.unpersist()`` when done.  The attribute
    # lives only on the DIRECTLY returned object -- chaining any
    # transformation returns a fresh DataFrame without it -- so callers
    # that transform the result should pass ``cache_out=[]`` and
    # unpersist the handle appended there instead.
    units = paras.groupBy("h").agg(F.min("para").alias("para"))
    if persist_units:
        units = units.persist()
        if cache_out is not None:
            # the explicit, chain-safe way to receive the unpersist handle:
            # the ``units_cache`` attribute below survives ONLY on the
            # directly returned DataFrame (any .filter/.select/.cache
            # yields a new object without it), so callers that transform
            # the result should pass a list here and unpersist its entries
            cache_out.append(units)
    # native_max_docs=0: keep the JOIN-path verify here.  The r7 native
    # verify wins when the input is a base table with long texts (gram
    # arrays dominate the joins), but the unit table is a DERIVED
    # aggregation over short paragraphs -- the native path's extra collect
    # action recomputes that lineage without exchange reuse and measured
    # NET SLOWER (9.9s vs 7.4s at sf1.0, same-session A/B), while the
    # join verify shares the units exchange with every other consumer.
    pairs = lsh_jaccard_verified(
        units,
        id_col="h",
        text_col="para",
        shingle_n=shingle_n,
        bands=bands,
        rows_per_band=rows_per_band,
        n=n,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        native_max_docs=0,
    )
    # one-hop closure WITH self-loops: (h, h) rows make the single
    # (nb -> doc_id) join deliver own docs and neighbor docs together
    closure = (
        pairs.select(F.col("id_a").alias("h"), F.col("id_b").alias("nb"))
        .union(pairs.select(F.col("id_b").alias("h"), F.col("id_a").alias("nb")))
        .union(units.select(F.col("h"), F.col("h").alias("nb")))
    )
    occ = paras.select(F.col("h").alias("nb"), "doc_id")
    agg = (
        F.count_distinct("doc_id")
        if exact
        else F.approx_count_distinct("doc_id", rsd)
    )
    out = (
        closure.join(occ, "nb")
        .groupBy("h")
        .agg(agg.cast("long").alias("n_near_docs"))
    )
    out.units_cache = units if persist_units else None
    return out


def paragraph_near_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    shingle_n: int = 4,
    bands: int = 4,
    rows_per_band: int = 8,
    n: int = 3,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
    exact: bool = True,
    rsd: float = 0.02,
    persist_units: bool = False,
    cache_out: list | None = None,
) -> DataFrame:
    """``paragraph_stats`` for TEMPLATED boilerplate -- the per-page
    variation md5 cannot see ('Subscribe to the {lang} newsletter'):

    (doc_id, n_paras, n_near_dup_paras, near_dup_ratio,
     near_boilerplate_frac)

    where a paragraph is NEAR-DUPLICATE if it, or any verified
    near-duplicate of it (exact ``n``-gram Jaccard >= ``threshold`` on
    LSH candidates), appears in >= ``min_docs`` distinct documents.
    Exact duplicates are subsumed (a paragraph is trivially in its own
    neighborhood), so this strictly dominates ``paragraph_stats``'s
    duplicate classification at equal ``min_docs``."""
    paras = explode_paragraphs(df, id_col, text_col).select(
        "doc_id",
        F.md5("para").alias("h"),
        F.length("para").alias("n_chars"),
        "para",
    )
    freq = near_paragraph_frequency(
        paras,
        shingle_n=shingle_n,
        bands=bands,
        rows_per_band=rows_per_band,
        n=n,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        exact=exact,
        rsd=rsd,
        persist_units=persist_units,
        cache_out=cache_out,
    )
    dup = F.col("n_near_docs") >= min_docs
    out = (
        paras.drop("para")
        .join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(dup.cast("long")).alias("n_near_dup_paras"),
            F.round(
                F.sum(dup.cast("long")) / F.count(F.lit(1)), 6
            ).alias("near_dup_ratio"),
            F.round(
                F.sum(F.when(dup, F.col("n_chars")).otherwise(0))
                / F.sum("n_chars"),
                6,
            ).alias("near_boilerplate_frac"),
        )
    )
    out.units_cache = freq.units_cache  # see near_paragraph_frequency
    return out


def drop_duplicate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """(doc_id, clean_text, n_dropped) -- each document reassembled (in
    original paragraph order, '\\n\\n'-joined) WITHOUT the paragraphs that
    appear in >= ``min_docs`` distinct documents.  A document that was
    pure boilerplate comes back with an empty clean_text, not dropped --
    the caller decides (filter on length) whether to keep husks.

    Reassembly is sort_array over collected (para_idx, para) structs --
    collect_list order is NOT deterministic across retries, the struct
    sort is what makes the output stable/oracle-checkable.

    The join side is the frequency table FILTERED to duplicate hashes
    only (kept paragraphs don't need their count): boilerplate is a tiny
    fraction of distinct paragraphs, so the left join's build side is
    small and AQE broadcasts it -- paragraph TEXT then crosses exactly
    ONE shuffle (the per-doc reassembly) instead of also hashing through
    the frequency join."""
    paras = explode_paragraphs(df, id_col, text_col).withColumn(
        "h", F.md5("para")
    )
    dup_h = (
        paragraph_frequency(paras, exact=exact, rsd=rsd)
        .filter(F.col("n_docs") >= min_docs)
        .select("h", F.lit(1).alias("_dup"))
    )
    return (
        paras
        .join(dup_h, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_dup").isNull(),
                                F.struct("para_idx", "para"),
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("clean_text"),
            F.sum(F.col("_dup").isNotNull().cast("long")).alias("n_dropped"),
        )
    )


def paragraph_language_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document LANGUAGE-MIX segmentation: language-ID every
    paragraph independently (same stopword heuristic and en>de>fr tie
    rule as ``textstats.lang_scores``), then report how mixed the
    document is -- (doc_id, n_paragraphs, n_langs, majority_lang,
    majority_ppm).  A whole-doc language ID silently averages over
    code-switched pages (boilerplate navigation in English wrapping a
    German article, bilingual forum threads); curation wants those docs
    FLAGGED (majority_ppm well below 1e6) so they can be split or
    routed, not mislabeled.  CCNet does its LM scoring per paragraph
    for exactly this reason.

    majority_ppm = floor(1e6 * majority-paragraph count / n_paragraphs)
    -- integer end-to-end (the repo ppm rule); majority ties resolve to
    the lexicographically smallest language (the
    ``domain_language_mix`` min(struct(-n, lang)) idiom).  Documents
    with no non-empty paragraph produce no row (they have no language
    evidence at all).

    Shape at scale: the paragraph explode and the three stopword regex
    passes are map-side; ONE exchange on (doc_id, lang) for the counts;
    the per-doc total, distinct-lang count and majority ride a window
    over the already-partitioned doc key.  Text leaves the scan only as
    exploded paragraphs feeding a regexp count -- no paragraph string
    survives past the map stage.
    """
    from pyspark.sql.window import Window

    from mariadb_to_graylog_spark.operators.textstats import stopword_count

    paras = explode_paragraphs(df, id_col, text_col)
    c = F.col("para")
    en, de, fr = (stopword_count(c, l) for l in ("en", "de", "fr"))
    pred = (
        F.when((en >= de) & (en >= fr), F.lit("en"))
        .when(de >= fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    counts = (
        paras.select(F.col("doc_id"), pred.alias("lang"))
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("doc_id")
    me = F.struct((-F.col("cnt")).alias("negn"), F.col("lang").alias("l"))
    per = counts.select(
        "doc_id",
        "lang",
        "cnt",
        F.sum("cnt").over(w).alias("total"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_langs"),
        (me == F.min(me).over(w)).alias("_is_maj"),
    )
    return per.filter(F.col("_is_maj")).select(
        "doc_id",
        F.col("total").cast("long").alias("n_paragraphs"),
        "n_langs",
        F.col("lang").alias("majority_lang"),
        F.expr("cnt * 1000000L div total").cast("long").alias("majority_ppm"),
    )
