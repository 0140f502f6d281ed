"""Unit tests for the training-data operators (dedup / similarity /
textstats / multimodal) -- the ones with oracle twins are additionally
value-checked by tools/check_oracle.py and the driver's sf0.01 gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import group_jobs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeds(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture
def force_distributed(monkeypatch):
    """Context manager under which every bounded native fast path
    declines (``_bounded_collect`` returns None), so operators built
    inside it run their distributed twins."""
    from contextlib import contextmanager

    from mariadb_to_graylog_spark.operators import dedup

    @contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(dedup, "_bounded_collect", lambda df, cap: None)
            yield

    return forced


def test_exact_dedup_roundtrip(spark, docs):
    from mariadb_to_graylog_spark.operators.dedup import exact_dedup

    dup = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 50000
    )
    both = docs.unionByName(dup)
    deduped, groups = exact_dedup(both)
    n_docs = docs.count()
    assert deduped.count() == n_docs  # one survivor per distinct text
    assert groups.filter(F.col("n") == 2).count() == dup.count()
    # min-id survivor: original doc wins
    assert deduped.filter(F.col("doc_id") >= 50000).count() == 0


def test_minhash_lsh_finds_near_dups(spark, docs):
    from mariadb_to_graylog_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    both = docs.unionByName(near)
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(both).collect()}
    planted = {(r.doc_id, r.doc_id + 50000) for r in docs.filter(F.col("doc_id") % 7 == 0).collect()}
    recall = len(planted & pairs) / len(planted)
    assert recall >= 0.9, f"LSH recall {recall}"
    # verify stage: candidates confirmed by jaccard agree with brute force
    verified = ngram_jaccard_pairs(both, block_col="lang", threshold=0.8)
    vpairs = {(r.id_a, r.id_b) for r in verified.collect()}
    assert planted <= vpairs


def test_simhash_banded_equals_all_pairs(spark, docs):
    """Pigeonhole completeness: the banded bucket join must reproduce the
    all-pairs result exactly (same bits, same distance)."""
    from mariadb_to_graylog_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_banded,
    )

    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    both = docs.unionByName(near)
    all_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(both, block_col="lang", bits=60, max_distance=3).collect()
    }
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_banded(both, block_col="lang", bits=60, max_distance=3).collect()
    }
    assert banded == all_pairs and len(all_pairs) > 0


def test_lsh_verified_subset_and_recall(spark, docs):
    """lsh_jaccard_verified = ngram Jaccard restricted to LSH candidates:
    every emitted pair must carry the exact all-pairs Jaccard value, and
    the planted near-dups must all be recalled."""
    from mariadb_to_graylog_spark.operators.dedup import (
        lsh_jaccard_verified,
        ngram_jaccard_pairs,
    )

    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat("text", F.lit(" t")).alias("text"),
        "lang", "source", "n_chars",
    )
    both = docs.unionByName(near)
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in lsh_jaccard_verified(both, threshold=0.8).collect()
    }
    brute = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(both, threshold=0.8).collect()
    }
    assert set(verified) <= set(brute)
    assert all(abs(verified[k] - brute[k]) < 1e-12 for k in verified)
    planted = {
        (r.doc_id, r.doc_id + 50000)
        for r in docs.filter(F.col("doc_id") % 7 == 0).collect()
    }
    recall = len(planted & set(verified)) / len(planted)
    assert recall >= 0.9, f"verified recall {recall}"


def test_no_quadratic_join_in_default_neardup_paths(
    spark, docs, embeds, force_distributed
):
    """The default near-dup operators must be bucket-joins: equi-join keys
    include the LSH band columns, and no cartesian/nested-loop join may
    appear anywhere in the plan."""
    from mariadb_to_graylog_spark.operators.dedup import (
        lsh_jaccard_verified,
        simhash_pairs_banded,
    )
    from mariadb_to_graylog_spark.operators.similarity import embedding_neardup_lsh

    # embedding path: the bounded-corpus default is the r7 native engine
    # (MapInPandas over numpy bucket pairing -- same per-band pair set, no
    # join at all); the bucket-join invariant is asserted on its
    # beyond-cap distributed twin
    with force_distributed():
        embed_dist = embedding_neardup_lsh(embeds, dim=64)
    for df, needle in [
        (lsh_jaccard_verified(docs), "sig"),
        (simhash_pairs_banded(docs), "bv"),
        (embed_dist, "bv"),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert "band" in plan and needle in plan  # bucket join key present
    native_plan = (
        embedding_neardup_lsh(embeds, dim=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in native_plan
    assert "NestedLoop" not in native_plan
    # and the two strategies agree row-for-row (ids AND rounded cosines)
    nat = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_neardup_lsh(embeds, dim=64).collect()
    }
    dist = {(r.id_a, r.id_b, r.cos_sim) for r in embed_dist.collect()}
    assert nat == dist


def test_embedding_lsh_exact_dup_recall(spark, embeds):
    """Exact vector copies have identical SRP signs in every band -> 100%
    recall on true duplicates, the dedup case that matters."""
    from mariadb_to_graylog_spark.operators.similarity import embedding_neardup_lsh

    dups = embeds.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding", "label"
    )
    both = embeds.unionByName(dups)
    planted = {
        (r.vec_id, r.vec_id + 50000)
        for r in embeds.filter(F.col("vec_id") % 5 == 0).collect()
    }
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(both, dim=64, threshold=0.999).collect()
    }
    assert planted <= pairs
    # auto-sized bits-per-band (the at-scale default): exact-copy recall
    # stays 100% no matter how many bits the corpus size demands
    auto = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(
            both, dim=64, threshold=0.999, rows_per_band=None
        ).collect()
    }
    assert planted <= auto


def test_connected_components_and_keep_one(spark, docs):
    """Chain + clique + singleton: min-label CC labels every node with its
    component minimum; keep-one keeps exactly one doc per group."""
    from mariadb_to_graylog_spark.operators.dedup import (
        connected_components,
        near_dedup_groups,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (7, 8)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}

    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 7, 8, 10, 11, 99]], "doc_id long"
    )
    groups = near_dedup_groups(ids, edges)
    got = {r.doc_id: r.group_id for r in groups.collect()}
    assert got[99] == 99  # singleton = its own group
    kept = sorted(d for d, g in got.items() if d == g)
    assert kept == [1, 7, 10, 99]


def test_connected_components_chain_converges_in_log_rounds(spark):
    """A 300-node path graph -- the adversarial shape for plain min-label
    propagation (O(diameter) = ~300 rounds, which would blow max_iters) --
    must converge within a logarithmic round budget thanks to the pointer
    jump (label <- label(label))."""
    from mariadb_to_graylog_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    comp = {
        r.id: r.component
        for r in connected_components(edges, max_iters=25).collect()
    }
    assert len(comp) == 301 and set(comp.values()) == {0}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches CC to reliable .checkpoint() (survives
    executor loss on a real cluster): same labels, files actually written
    to the given directory."""
    import os

    from mariadb_to_graylog_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 8)], "id_a long, id_b long"
    )
    ckdir = str(tmp_path / "cc_ckpt")
    comp = {
        r.id: r.component
        for r in connected_components(edges, checkpoint_dir=ckdir).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}
    written = [
        os.path.join(root, f)
        for root, _, files in os.walk(ckdir)
        for f in files
    ]
    assert written, "reliable checkpoint must materialize snapshots on disk"
    # superseded rounds are deleted: exactly ONE labels_* snapshot remains
    # (the one backing the returned DataFrame)
    snaps = [
        d for root, dirs, _ in os.walk(ckdir) for d in dirs
        if d.startswith("labels_")
    ]
    assert len(snaps) == 1, snaps


def test_lsh_verified_native_equals_join_path(spark, docs, force_distributed):
    """The bounded-corpus native verify (int64 gram codes + broadcast CSR)
    must produce byte-identical (id_a, id_b, jaccard) rows to the
    join-based verify (forced via ``force_distributed``), including on
    unicode text; and the gram-code kernel's set counts must equal
    Spark's char_ngrams set counts."""
    from mariadb_to_graylog_spark.operators.dedup import (
        _char_ngram_codes_py,
        char_ngrams,
        lsh_jaccard_verified,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),
        (3, "café résumé naïve façade déjà vu encore une fois"),
        (4, "café résumé naïve façade déjà vu encore une foie"),
        (5, "completely unrelated text about query engines"),
        (6, ""),
        (7, "ab"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    native = {
        (r.id_a, r.id_b, r.jaccard)
        for r in lsh_jaccard_verified(df, threshold=0.1).collect()
    }
    with force_distributed():
        joined = {
            (r.id_a, r.id_b, r.jaccard)
            for r in lsh_jaccard_verified(df, threshold=0.1).collect()
        }
    assert native == joined and native

    # kernel vs Spark char_ngrams: same distinct-gram count per text and
    # same pairwise intersection counts (bijective encoding)
    import pyspark.sql.functions as SF

    got = df.select(
        "doc_id", SF.size(SF.array_distinct(char_ngrams(SF.col("text"), 3))).alias("n")
    ).collect()
    for r in got:
        text = dict(rows)[r.doc_id]
        assert _char_ngram_codes_py(text, 3).size == r.n, text


def test_connected_components_native_equals_iterative(spark, force_distributed):
    """The bounded-edge union-find fast path must produce byte-identical
    labels to the distributed label iteration (forced via
    ``force_distributed``) on chain + clique + self-loop + string-id
    graphs."""
    from mariadb_to_graylog_spark.operators.dedup import connected_components

    cases = [
        (
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (7, 8), (5, 5)],
            "id_a long, id_b long",
        ),
        ([(i, i + 1) for i in range(80)], "id_a long, id_b long"),
        (
            [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("q", "q")],
            "id_a string, id_b string",
        ),
    ]
    for rows, schema in cases:
        edges = spark.createDataFrame(rows, schema)
        native = {
            (r.id, r.component)
            for r in connected_components(edges).collect()
        }
        with force_distributed():
            iterative = {
                (r.id, r.component)
                for r in connected_components(edges).collect()
            }
        assert native == iterative, schema


def _excerpt_corpus(spark, docs):
    """The sf docs plus planted excerpts (a doc's middle third, under a
    new id) and one empty doc: containment/overlap pairs at every
    score, and one doc the winnow path must exclude."""
    sub = docs.filter(F.col("doc_id") % 9 == 0)
    planted = sub.select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.expr("substring(text, length(text) div 3, length(text) div 3)").alias(
            "text"
        ),
    )
    empty = spark.createDataFrame([(99999, "")], "doc_id long, text string")
    return docs.select("doc_id", "text").unionByName(planted).unionByName(empty)


def test_winnow_overlap_native_equals_distributed(spark, docs, force_distributed):
    """The bincount-over-postings fast path and the distributed hash-bucket
    join return identical (id_a, id_b, shared, overlap) rows, with and
    without a hash document-frequency cap."""
    from mariadb_to_graylog_spark.operators.dedup import winnow_overlap_pairs

    df = _excerpt_corpus(spark, docs)
    for kw in ({"min_overlap": 0.3}, {"min_overlap": 0.0, "max_hash_df": 2}):
        native = sorted(tuple(r) for r in winnow_overlap_pairs(df, **kw).collect())
        with force_distributed():
            dist = sorted(tuple(r) for r in winnow_overlap_pairs(df, **kw).collect())
        assert native == dist and native, kw


def test_containment_native_equals_distributed(spark, docs, force_distributed):
    """The numpy rare-gram candidate+verify path and the distributed joins
    return identical (id_inner, id_outer, n_inner_grams, n_inter,
    containment) rows."""
    from mariadb_to_graylog_spark.operators.dedup import containment_pairs

    df = _excerpt_corpus(spark, docs)
    for kw in ({"n": 8, "threshold": 0.9}, {"n": 4, "rare_cap": 5, "threshold": 0.2}):
        native = sorted(tuple(r) for r in containment_pairs(df, **kw).collect())
        with force_distributed():
            dist = sorted(tuple(r) for r in containment_pairs(df, **kw).collect())
        assert native == dist and native, kw


def test_kmeans_and_pq_native_equal_distributed(spark, embeds, force_distributed):
    """The numpy Lloyd rounds return the same centroids and codebooks as
    the distributed rounds (HALF_UP rounding absorbs the summation
    order)."""
    from mariadb_to_graylog_spark.operators.similarity import train_kmeans, train_pq

    native_c = train_kmeans(embeds, k=6, iters=3, dim=64)
    native_pq = train_pq(embeds, m=4, ksub=4, iters=2, dim=64)
    with force_distributed():
        dist_c = train_kmeans(embeds, k=6, iters=3, dim=64)
        dist_pq = train_pq(embeds, m=4, ksub=4, iters=2, dim=64)
    assert native_c == dist_c and len(native_c) > 1
    assert native_pq == dist_pq and len(native_pq) == 4


def test_embedding_neardup_pair_budget_falls_back(
    spark, embeds, monkeypatch, force_distributed
):
    """All-zero vectors share one SRP bucket in every band: the native
    path would emit C(n, 2) pairs per band on the driver.  Over the pair
    budget it declines and the distributed bucket join runs; every path
    returns the same rows (zero-norm cosines are Spark NULLs, so no
    zero-vector pair survives)."""
    from mariadb_to_graylog_spark.operators import similarity as sim

    zeros = spark.createDataFrame(
        [(90000 + i, [0.0] * 64, -1) for i in range(40)],
        embeds.schema,
    )
    copies = embeds.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 50000
    )
    both = embeds.unionByName(copies).unionByName(zeros)

    def rows(df):
        return sorted(
            (r.id_a, r.id_b, None if r.cos_sim != r.cos_sim else r.cos_sim)
            for r in df.collect()
        )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    native = sim.embedding_neardup_lsh(both, dim=64, threshold=0.9)
    assert "MapInPandas" in plan(native)
    monkeypatch.setattr(sim, "_NATIVE_MAX_PAIRS", 3 * 40 * 39 // 2 - 1)
    budgeted = sim.embedding_neardup_lsh(both, dim=64, threshold=0.9)
    assert "MapInPandas" not in plan(budgeted)
    with force_distributed():
        dist = sim.embedding_neardup_lsh(both, dim=64, threshold=0.9)
    assert rows(native) == rows(budgeted) == rows(dist)
    assert rows(native)  # the planted copies
    assert not any(a >= 90000 or b >= 90000 for a, b, _ in rows(native))


@pytest.mark.parametrize(
    "op",
    [
        "lsh_jaccard_verified",
        "connected_components",
        "winnow_overlap_pairs",
        "containment_pairs",
        "train_kmeans",
        "pq_train",
        "embedding_neardup_lsh",
    ],
)
def test_native_decision_is_one_bounded_collect(spark, op):
    """Each guarded operator decides native-vs-distributed with ONE bounded
    collect: building its native result runs no more Spark jobs than a
    bare ``limit(cap + 1).toPandas()`` of its input (AQE may split that
    reference into more than one job)."""
    import numpy as np

    from mariadb_to_graylog_spark.operators import dedup
    from mariadb_to_graylog_spark.operators import similarity as sim

    texts = spark.createDataFrame(
        [(i, f"doc {i % 7} shares these words and token{i} then {i % 3}") for i in range(60)],
        "doc_id long, text string",
    ).repartition(4)
    rng = np.random.default_rng(0)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    edges = spark.createDataFrame(
        [(i, i + 1 + i % 3) for i in range(500)], "id_a long, id_b long"
    ).repartition(12)
    inp, cap, build = {
        "lsh_jaccard_verified": (
            texts, dedup._NATIVE_MAX_DOCS, lambda: dedup.lsh_jaccard_verified(texts)
        ),
        "connected_components": (
            edges, dedup._NATIVE_MAX_EDGES, lambda: dedup.connected_components(edges)
        ),
        "winnow_overlap_pairs": (
            texts, dedup._NATIVE_MAX_DOCS, lambda: dedup.winnow_overlap_pairs(texts)
        ),
        "containment_pairs": (
            texts, dedup._NATIVE_MAX_DOCS, lambda: dedup.containment_pairs(texts)
        ),
        "train_kmeans": (
            vecs, sim._NATIVE_MAX_ROWS, lambda: sim.train_kmeans(vecs, k=4, dim=8)
        ),
        "pq_train": (
            vecs, sim._NATIVE_MAX_ROWS, lambda: sim.train_pq(vecs, m=2, ksub=4, dim=8)
        ),
        "embedding_neardup_lsh": (
            vecs,
            sim._NATIVE_MAX_EMBED_ROWS,
            lambda: sim.embedding_neardup_lsh(vecs, dim=8, rows_per_band=None),
        ),
    }[op]
    reference = group_jobs(spark, lambda: inp.limit(cap + 1).toPandas())
    assert reference >= 1
    assert group_jobs(spark, build) <= reference


def test_bounded_collect_cap(spark):
    """``_bounded_collect`` returns every row up to the cap and None past it."""
    from mariadb_to_graylog_spark.operators.dedup import _bounded_collect

    df = spark.range(10)
    assert sorted(_bounded_collect(df, 10)["id"]) == list(range(10))
    assert _bounded_collect(df, 9) is None
    assert len(_bounded_collect(df.limit(0), 0)) == 0


def test_connected_components_string_ids(spark, tmp_path):
    """Non-integral ids must NOT fool the label-sum convergence probe (a
    decimal sum over string labels is NULL every round, which would look
    'converged' after round one and silently return partial components):
    string ids are densely encoded to longs, iterated, and decoded back to
    component = MIN ORIGINAL id -- the recursive-CTE contract."""
    from mariadb_to_graylog_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
    # reliable-checkpoint path: the node-id mapping is a durable snapshot
    # OUTSIDE the superseded-round deletion chain, so it must survive to
    # the final decode
    comp2 = {
        r.id: r.component
        for r in connected_components(
            edges, checkpoint_dir=str(tmp_path / "cc_str")
        ).collect()
    }
    assert comp2 == comp


def test_connected_components_string_chain_pointer_jump(spark):
    """Deep chain with STRING ids: the pointer jump operates on the encoded
    longs and must still converge in a logarithmic round budget."""
    from mariadb_to_graylog_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(120)],
        "id_a string, id_b string",
    )
    comp = {
        r.id: r.component
        for r in connected_components(edges, max_iters=25).collect()
    }
    assert len(comp) == 121 and set(comp.values()) == {"n0000"}


def test_connected_components_int_and_string_ids(spark):
    """Min-label propagation on chain + clique + bridged + singleton-self
    shapes labels string ids exactly as their integral twins (zero-padded,
    so the min id maps to the min string)."""
    import random

    from mariadb_to_graylog_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges_int = (
        [(i, i + 1) for i in range(40)]  # chain
        + [(100 + i, 100 + j) for i in range(6) for j in range(i + 1, 6)]  # clique
        + [(40, 100)]  # bridge: chain and clique merge
        + [(500, 500)]  # self-pair -> singleton
        + [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(60)]
    )
    d = spark.createDataFrame(edges_int, "id_a long, id_b long")
    lab = {r.id: r.component for r in connected_components(d).collect()}
    assert lab[500] == 500 and lab[105] == 0  # bridged into the chain's min

    d_s = spark.createDataFrame(
        [(f"k{a:03d}", f"k{b:03d}") for a, b in edges_int],
        "id_a string, id_b string",
    )
    lab_s = {r.id: r.component for r in connected_components(d_s).collect()}
    assert lab_s == {f"k{i:03d}": f"k{c:03d}" for i, c in lab.items()}


def test_near_dedup_groups_string_ids(spark):
    """End-to-end groups path with string doc ids (the winnow_overlap ->
    near_dedup_groups route preserves string ids)."""
    from mariadb_to_graylog_spark.operators.dedup import near_dedup_groups

    ids = spark.createDataFrame(
        [(x,) for x in ["a", "b", "c", "z"]], "doc_id string"
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    got = {
        r.doc_id: r.group_id
        for r in near_dedup_groups(ids, edges, id_col="doc_id").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_planted_fp_candidate_only_verified_edges_safe(spark):
    """A single false-positive LSH candidate edge transitively merges two
    unrelated dup-clusters under connected components; verification kills
    the edge and keeps the clusters apart (r2 verdict ask #1).

    The corpus is frozen so that at (bands=4, rows_per_band=1):
    docs 1-2 and 3-4 are true near-dups (3-gram Jaccard ~0.99) while every
    cross pair collides in band 3 with Jaccard ~0.24 -- a planted FP."""
    from mariadb_to_graylog_spark.operators.dedup import (
        lsh_jaccard_verified,
        minhash_lsh_pairs,
        near_dedup_groups,
    )

    shared = "graylog event routing pipeline severity"
    ua = "crimson harbor lanterns drifting over quiet marble canyons tonight"
    ub = "quartz bayou flickers beside the bronze mesa ripple channel"
    df = spark.createDataFrame(
        [
            (1, f"{ua} {shared} alpha"),
            (2, f"{ua} {shared} alphas"),
            (3, f"{ub} {shared} beta"),
            (4, f"{ub} {shared} betas"),
        ],
        "doc_id long, text string",
    )

    raw = minhash_lsh_pairs(df, shingle_n=4, bands=4, rows_per_band=1)
    raw_pairs = {(r.id_a, r.id_b) for r in raw.collect()}
    cross = {(a, b) for (a, b) in raw_pairs if (a <= 2) != (b <= 2)}
    assert cross, "corpus must plant a false-positive LSH candidate"
    assert {(1, 2), (3, 4)} <= raw_pairs

    ver = lsh_jaccard_verified(
        df, shingle_n=4, bands=4, rows_per_band=1, n=3, threshold=0.5
    )
    ver_pairs = {(r.id_a, r.id_b) for r in ver.collect()}
    assert ver_pairs == {(1, 2), (3, 4)}  # FP edges verified away

    # raw edges: the FP chains everything into ONE component -> keep-one
    # would delete genuinely distinct documents
    g_raw = {
        r.doc_id: r.group_id for r in near_dedup_groups(df, raw).collect()
    }
    assert set(g_raw.values()) == {1}

    # verified edges: two components, one survivor each
    g_ver = {
        r.doc_id: r.group_id for r in near_dedup_groups(df, ver).collect()
    }
    assert g_ver == {1: 1, 2: 1, 3: 3, 4: 3}


def test_kmeans_deterministic_and_mapside_assignment(spark, embeds):
    """train_kmeans is RNG-free (two runs -> identical centroids) and the
    assignment is a pure projection: no Exchange, no Window in the plan."""
    from mariadb_to_graylog_spark.operators.similarity import (
        assign_buckets_local,
        train_kmeans,
    )

    c1 = train_kmeans(embeds, k=4, iters=2, dim=64)
    c2 = train_kmeans(embeds, k=4, iters=2, dim=64)
    assert c1 == c2
    assert 1 <= len(c1) <= 4 and all(len(cv) == 64 for _, cv in c1)

    assigned = assign_buckets_local(embeds, c1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    buckets = {r.bucket for r in assigned.select("bucket").distinct().collect()}
    assert buckets <= {cid for cid, _ in c1}


def test_ivf_trained_recall(spark, embeds):
    """Trained IVF top-k against brute force: recall well above random
    bucketing (approximate by design, not broken)."""
    from mariadb_to_graylog_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_trained,
    )

    brute = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(embeds, F.col("vec_id") < 10, k=3).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in knn_ivf_trained(
            embeds, F.col("vec_id") < 10, n_centroids=4, iters=2, dim=64, k=3
        ).collect()
    }
    recall = len(brute & ivf) / max(len(brute), 1)
    assert recall >= 0.5, f"IVF recall@3 {recall}"


def test_repetition_goldens(spark):
    from mariadb_to_graylog_spark.operators.textstats import dup_bigram_ratio

    rows = [
        ("a b c d e", 0.0),             # all bigrams distinct
        ("a b a b a b", 0.6),           # 5 bigrams, 2 distinct
        ("loop loop loop loop", 1.0),   # one bigram repeated (3 total, 1 distinct) -> 2/3
        ("single", 0.0),                # degenerate: 1 pseudo-bigram
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "t string")
    got = [r[0] for r in df.select(dup_bigram_ratio(F.col("t"))).collect()]
    assert got[0] == 0.0
    assert abs(got[1] - 0.6) < 1e-9
    assert abs(got[2] - (1 - 1 / 3)) < 1e-6
    assert got[3] == 0.0


def test_pii_redaction_goldens(spark):
    from mariadb_to_graylog_spark.operators.textstats import pii_counts, redact_pii

    rows = [
        ("mail Bob.Smith+x@corp.example.org soon", "mail <EMAIL> soon", (1, 0, 0)),
        ("host 192.168.001.7 replied", "host <IP> replied", (0, 1, 0)),
        ("dial +44(0)20-7946-0958 now", "dial <PHONE> now", (0, 0, 1)),
        ("a@b.co via 10.0.0.1 or 555-123-4567", "<EMAIL> via <IP> or <PHONE>", (1, 1, 1)),
        ("no pii here", "no pii here", (0, 0, 0)),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "t string")
    got = df.select(
        redact_pii(F.col("t")).alias("r"), *pii_counts(F.col("t"))
    ).collect()
    for (_, want_r, want_n), g in zip(rows, got):
        assert g.r == want_r
        assert (g.n_email, g.n_ip, g.n_phone) == want_n


def test_deterministic_sample_stable_and_composable(spark, docs):
    from mariadb_to_graylog_spark.operators.textstats import (
        deterministic_sample_filter,
    )

    k = F.col("doc_id")
    a1 = {r.doc_id for r in docs.filter(deterministic_sample_filter(k, 30, "s1")).collect()}
    a2 = {r.doc_id for r in docs.filter(deterministic_sample_filter(k, 30, "s1")).collect()}
    assert a1 == a2  # stable across runs (df.sample is not)
    n = docs.count()
    assert 0.15 * n < len(a1) < 0.45 * n
    b = {r.doc_id for r in docs.filter(deterministic_sample_filter(k, 30, "s2")).collect()}
    assert b != a1  # different salt -> a different (independent) subsample
    sub = {r.doc_id for r in docs.filter(deterministic_sample_filter(k, 10, "s1")).collect()}
    assert sub <= a1  # rates nest for a fixed salt


def test_ivf_nprobe_all_buckets_equals_bruteforce(spark, embeds):
    """nprobe = n_centroids searches every bucket: IVF must then equal
    brute force result-for-result (rank, neighbor, rounded cosine)."""
    from mariadb_to_graylog_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_trained,
    )

    brute = {
        tuple(r)
        for r in knn_bruteforce(embeds, F.col("vec_id") < 5, k=3).collect()
    }
    ivf = {
        tuple(r)
        for r in knn_ivf_trained(
            embeds, F.col("vec_id") < 5, n_centroids=4, iters=1, dim=64,
            k=3, nprobe=4,
        ).collect()
    }
    assert ivf == brute


def test_lsh_bucket_stats_and_cap(spark, docs):
    """The bucket cap is never silent: stats expose dropped buckets/pairs,
    and the capped pair set equals the uncapped set minus pairs that only
    arise in oversized buckets."""
    from mariadb_to_graylog_spark.operators.dedup import (
        lsh_bucket_stats,
        minhash_lsh_pairs,
    )

    stats = lsh_bucket_stats(docs, rows_per_band=4, max_bucket_size=3).collect()[0]
    assert stats.n_buckets > 0 and stats.candidate_pairs >= 0
    if stats.buckets_dropped:
        assert stats.pairs_dropped > 0
    capped = minhash_lsh_pairs(docs, rows_per_band=4, max_bucket_size=3)
    uncapped = minhash_lsh_pairs(docs, rows_per_band=4)
    assert capped.count() <= uncapped.count()


def test_knn_zero_norm_vectors_pruned_consistently(spark):
    """Zero-norm embeddings score NaN cosine; both ranking paths must drop
    them identically -- Spark sorts NaN largest, so before the fix the
    partial reduction pruned NaN rows while the global window ranked them
    FIRST, making partial_topk True/False disagree."""
    from mariadb_to_graylog_spark.operators.similarity import knn_bruteforce

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero norm -> NaN vs everything
        (4, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        partial: sorted(
            tuple(r)
            for r in knn_bruteforce(
                df, F.col("vec_id") < 2, k=3, partial_topk=partial
            ).collect()
        )
        for partial in (True, False)
    }
    assert got[True] == got[False]
    flat = [r for rs in got.values() for r in rs]
    assert all(r[3] == r[3] for r in flat)  # no NaN cos_sim survives
    assert not any(r[2] == 3 for r in flat)  # degenerate vector never ranked
    # the zero-norm QUERY yields no rows rather than NaN-ranked garbage
    assert knn_bruteforce(df, F.col("vec_id") == 3, k=3).count() == 0


def test_ivf_assignment_zero_norm_matches_oracle(spark):
    """A zero-norm centroid or vector makes every cosine against it
    ``x / 0.0``: NULL in the DuckDB oracle's IVF assignment, where it
    sorts last and an all-NULL row takes the lowest centroid id.  The
    numpy argmax must agree instead of ranking 0/0 = NaN above every
    real score (which sent every vector to the zero centroid)."""
    import duckdb

    from mariadb_to_graylog_spark.entry_queries import _DOT
    from mariadb_to_graylog_spark.operators.similarity import assign_buckets_local

    vecs = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])]
    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.1]), (2, [0.1, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = [
        r.bucket
        for r in assign_buckets_local(df, cents).orderBy("vec_id").collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", vecs)
    con.execute("CREATE TABLE cent (centroid_id BIGINT, c_vec DOUBLE[])")
    con.executemany("INSERT INTO cent VALUES (?, ?)", cents)
    # the scored/assigned CTEs of ORACLE_KNN_IVF
    want = [
        r[0]
        for r in con.execute(
            f"""
            WITH scored AS (
              SELECT e.vec_id, cent.centroid_id,
                     {_DOT.format(a="e.embedding", b="cent.c_vec")} /
                       (sqrt({_DOT.format(a="e.embedding", b="e.embedding")}) *
                        sqrt({_DOT.format(a="cent.c_vec", b="cent.c_vec")})) AS cs
              FROM embeddings e, cent
            )
            SELECT centroid_id
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                               ORDER BY cs DESC, centroid_id) AS rn
                  FROM scored)
            WHERE rn = 1 ORDER BY vec_id
            """
        ).fetchall()
    ]
    assert want == [1, 2, 0]
    assert got == want


def test_knn_self_consistency(spark, embeds):
    from mariadb_to_graylog_spark.operators.similarity import (
        cosine_topk_pandas,
        knn_bruteforce,
    )

    brute = knn_bruteforce(embeds, F.col("vec_id") < 5, k=3)
    rows = brute.collect()
    assert {r.query_id for r in rows} == set(range(5))
    assert all(1 <= r.rank <= 3 and -1.0001 <= r.cos_sim <= 1.0001 for r in rows)
    # Arrow/numpy variant returns the same neighbor sets
    arrow = cosine_topk_pandas(embeds, F.col("vec_id") < 5, k=3)
    a = {(r.query_id, r.neighbor_id) for r in arrow.collect()}
    b = {(r.query_id, r.neighbor_id) for r in rows}
    assert a == b


def test_winnow_fingerprint_stability(spark):
    from mariadb_to_graylog_spark.operators.textstats import winnow_fingerprint

    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog"),
         (2, "the  QUICK  brown fox jumps over the lazy dog"),
         (3, "a completely different document body here")],
        "id int, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", winnow_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2]  # whitespace/case-insensitive
    assert fps[1] != fps[3]


def test_token_percentiles_approx_within_rank_bound(spark, docs):
    """approx_percentile (the 100 TB default: mergeable fixed-memory
    sketch) must stay within its rank-error guarantee of the exact
    interpolated percentiles the oracle checks."""
    from mariadb_to_graylog_spark.operators.textstats import (
        token_length_percentiles,
    )

    exact = {
        r.lang: (r.p50, r.p90, r.p99)
        for r in token_length_percentiles(docs, by="lang").collect()
    }
    approx = {
        r.lang: (r.p50, r.p90, r.p99)
        for r in token_length_percentiles(docs, by="lang", approx=True).collect()
    }
    assert set(exact) == set(approx) and exact
    for lang in exact:
        for e, a in zip(exact[lang], approx[lang]):
            # accuracy=10000 on <=1k-row groups -> rank error < 1 element;
            # interpolation vs element choice differs by < one step
            assert abs(e - a) <= max(3.0, 0.05 * e), (lang, e, a)


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """The k=32 collision-fraction estimator must track exact 4-gram
    Jaccard on the planted near-dups: exact duplicates estimate 1.0, and
    the mean |est - exact| over shared pairs stays well inside the
    sqrt(J(1-J)/k) ~ 0.09 stderr band."""
    from mariadb_to_graylog_spark.operators.dedup import (
        lsh_jaccard_verified,
        minhash_jaccard_estimate,
    )

    base = [(i, f"document number {i} about spark columnar shuffle topic {i % 7}")
            for i in range(40)]
    rows = base + [(i + 1000, t) for i, t in base[:10]]  # exact copies
    rows += [(i + 2000, t + " tail") for i, t in base[10:20]]  # near copies
    df = spark.createDataFrame(rows, "doc_id long, text string")

    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_jaccard_estimate(
            df, shingle_n=4, bands=4, rows_per_band=8, threshold=0.0
        ).collect()
    }
    # exact-duplicate pairs estimate exactly 1.0
    for i in range(10):
        assert est[(i, i + 1000)] == 1.0
    # same candidates, exact Jaccard (4-gram, to match the sketch's shingles)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in lsh_jaccard_verified(
            df, shingle_n=4, bands=4, rows_per_band=8, n=4, threshold=0.0
        ).collect()
    }
    shared = set(est) & set(exact)
    assert len(shared) >= 20
    mae = sum(abs(est[p] - exact[p]) for p in shared) / len(shared)
    assert mae < 0.12, mae


def test_curation_pipeline_every_gate_fires(spark):
    """The composed curation flow must be non-vacuous at sf0.001: each
    stage removes rows (dedup kills the planted copies, the quality gate
    rejects, decontamination flags >=1 doc, sampling subsets) -- a
    threshold that filters nothing would let the oracle pass emptily."""
    import mariadb_to_graylog_spark.entry_queries as eq
    from mariadb_to_graylog_spark.operators.decontam import contamination
    from mariadb_to_graylog_spark.operators import dedup as dd, textstats as tx

    sf = "/root/testdata/sf0.001"
    d = eq.docs_with_exact_dups(spark, sf)
    n_total = d.count()
    deduped, _ = dd.exact_dedup(d)
    n_dedup = deduped.count()
    q = deduped.filter(tx.quality_score(F.col("text")) >= 0.5)
    n_quality = q.count()
    ev = eq._documents(spark, sf).filter(F.col("doc_id") % 13 == 0)
    n_bad = contamination(q, ev, n=13).filter("contaminated").count()
    kept = (
        eq.ALL_QUERIES["curation_pipeline"](spark, sf)
        .agg(F.sum("n_kept"))
        .first()[0]
    )
    assert n_total > n_dedup > n_quality > 0
    assert n_bad >= 1
    assert 0 < kept < n_quality - n_bad


def test_winnow_pandas_twin_equals_hof(spark):
    """The Arrow/numpy sketch must equal the JVM HOF fold integer-for-
    integer on edge strings: unicode codepoints, whitespace runs, empty,
    shorter-than-window, exact-window, long."""
    from mariadb_to_graylog_spark.operators.textstats import (
        winnow_fingerprint,
        winnow_fingerprint_pandas,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "café naïve résumé — unicode codepoints",
        "  leading   and\ttrailing\n whitespace  ",
        "", "a", "abcdefg", "abcdefgh", "abcdefghi",
        "repeat " * 100,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    hof = {r.id: r.sk for r in df.select("id", winnow_fingerprint(F.col("t")).alias("sk")).collect()}
    pdu = {
        r.id: r.sk
        for r in df.select(
            "id", winnow_fingerprint_pandas()(F.col("t")).alias("sk")
        ).collect()
    }
    assert pdu == hof


def test_decontamination_flags_leaked_eval_items(spark):
    """A document containing an eval item verbatim (13-word window) is
    flagged; paraphrases and short documents are not; the probe join is a
    broadcast, not a shuffle."""
    from mariadb_to_graylog_spark.operators.decontam import contamination

    eval_item = (
        "what is the capital of the ancient kingdom that bordered "
        "the western sea before the long winter"
    )
    docs = spark.createDataFrame(
        [
            (1, f"some preamble text here {eval_item} and a trailing answer"),
            (2, "a paraphrase about the capital of an ancient kingdom near "
                "a western sea before some long winter season"),
            (3, "too short to contain it"),
            (4, eval_item),  # exact leak, no padding
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(eval_item,)], "text string")
    out = contamination(docs, ev, n=13)
    got = {r.doc_id: (r.n_hits, r.contaminated) for r in out.collect()}
    assert got[1][1] is True and got[1][0] >= 1
    assert got[4] == (5, True)  # 17 words -> 5 distinct 13-windows
    assert got[2] == (0, False) and got[3] == (0, False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_decontamination_preserves_string_ids(spark):
    """String doc ids survive end-to-end with their ORIGINAL type and
    values -- the historical cast-to-long here nulled every non-numeric
    id and the final groupBy then merged all such documents into one NULL
    row (the same silent-string-id failure fixed in connected_components
    and winnow_overlap_pairs)."""
    from mariadb_to_graylog_spark.operators.decontam import (
        contamination,
        contamination_bucketed,
    )

    eval_item = (
        "what is the capital of the ancient kingdom that bordered "
        "the western sea before the long winter"
    )
    docs = spark.createDataFrame(
        [
            ("crawl/2024/a9f3", f"intro {eval_item} outro"),
            ("crawl/2024/b771", "clean document with no overlap whatsoever "
                                "spanning more than thirteen words of filler "
                                "material to get a window"),
            ("shard-07:e02", "short"),
        ],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame([(eval_item,)], "text string")
    for fn in (contamination, contamination_bucketed):
        out = fn(docs, ev, n=13)
        assert dict(out.dtypes)["doc_id"] == "string"
        got = {r.doc_id: r.contaminated for r in out.collect()}
        assert got == {
            "crawl/2024/a9f3": True,
            "crawl/2024/b771": False,
            "shard-07:e02": False,
        }


def test_decontamination_null_ids_fail_loudly(spark):
    """NULL ids would silently merge distinct documents into one groupBy
    row, so the default raises (map-side, first null encountered);
    on_null_id='drop' opts into exclusion; anything else is rejected at
    plan time."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mariadb_to_graylog_spark.operators.decontam import contamination

    docs = spark.createDataFrame(
        [("a", "x " * 20), (None, "y " * 20), (None, "z " * 20)],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame([("nothing shared here " * 5,)], "text string")

    with pytest.raises(SparkRuntimeException, match="NULL 'doc_id'"):
        contamination(docs, ev, n=13).collect()

    kept = contamination(docs, ev, n=13, on_null_id="drop").collect()
    assert [r.doc_id for r in kept] == ["a"]

    with pytest.raises(ValueError, match="on_null_id"):
        contamination(docs, ev, n=13, on_null_id="keep")


def test_bucket_stats_empty_corpus_yields_zeros(spark):
    """Both bucket-size reports return 0s (never NULLs) on an empty or
    gram-less corpus -- downstream arithmetic on the report must not hit
    None."""
    from mariadb_to_graylog_spark.operators.dedup import (
        lsh_bucket_stats,
        ngram_bucket_stats,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    short = spark.createDataFrame([(1, "too short")], "doc_id long, text string")
    for df in (empty, short):
        r = ngram_bucket_stats(df, n=15, max_bucket_size=4).collect()[0]
        assert (r.n_grams, r.max_bucket, r.candidate_pairs, r.grams_dropped,
                r.pairs_dropped) == (0, 0, 0, 0, 0)
    r = lsh_bucket_stats(empty).collect()[0]
    assert (r.max_bucket, r.candidate_pairs, r.pairs_dropped) == (0, 0, 0)


def test_cp_guard_survives_session_gc_id_reuse():
    """The constraint-propagation guard's state is WEAKLY keyed by the
    session object: a session GC'd mid-run (acquire without release, e.g.
    a crashed CC iteration) must not leave state behind that a NEW session
    reusing the same id() would inherit -- the id-keyed dict did exactly
    that, restoring a stale 'prev' conf value."""
    import gc

    from mariadb_to_graylog_spark.operators import dedup as dd

    class FakeConf:
        def __init__(self):
            self.vals = {}

        def get(self, k, default=None):
            return self.vals.get(k, default)

        def set(self, k, v):
            self.vals[k] = v

        def unset(self, k):
            self.vals.pop(k, None)

    class FakeSession:
        def __init__(self):
            self.conf = FakeConf()

    s1 = FakeSession()
    s1.conf.set(dd._CP_KEY, "true")  # a saved 'prev' that would be stale
    dd._cp_acquire(s1)
    assert s1.conf.get(dd._CP_KEY) == "false" and s1 in dd._CP_STATE
    old_id = id(s1)
    del s1  # dies without release (crashed run)
    gc.collect()
    assert all(id(k) != old_id for k in dd._CP_STATE), "stale entry survived GC"

    # a fresh session -- whatever its id() -- starts from ITS OWN conf
    s2 = FakeSession()
    dd._cp_acquire(s2)
    assert s2.conf.get(dd._CP_KEY) == "false"
    dd._cp_release(s2)
    assert s2.conf.get(dd._CP_KEY) is None  # restored to unset, not "true"
    assert s2 not in dd._CP_STATE

    # nesting on one session still round-trips the original value
    s3 = FakeSession()
    s3.conf.set(dd._CP_KEY, "true")
    dd._cp_acquire(s3)
    dd._cp_acquire(s3)
    dd._cp_release(s3)
    assert s3.conf.get(dd._CP_KEY) == "false"  # inner release keeps disable
    dd._cp_release(s3)
    assert s3.conf.get(dd._CP_KEY) == "true"


def test_contamination_extents_planted_positions(spark):
    """A doc embedding an eval item at a known token offset yields exactly
    one run with exact doc_start/doc_end/eval_start/run_tokens; a doc
    embedding only a sub-window yields the sub-window's extent; clean and
    too-short docs yield no row.  String ids survive untouched."""
    from mariadb_to_graylog_spark.operators.decontam import contamination_extents

    ev_toks = [f"w{i}" for i in range(20)]  # 20-token eval item
    eval_item = " ".join(ev_toks)
    docs = spark.createDataFrame(
        [
            # full item at doc token offset 3
            ("doc/full", "pre one two " + eval_item + " post"),
            # tokens 5..18 of the item (14 tokens >= n) at doc offset 0
            ("doc/mid", " ".join(ev_toks[5:19]) + " unrelated tail words"),
            ("doc/clean", "totally clean text " * 8),
            ("doc/short", "w0 w1 w2"),
        ],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame([("ev-1", eval_item)], "doc_id string, text string")
    out = contamination_extents(docs, ev, n=13)
    assert dict(out.dtypes)["doc_id"] == "string"
    rows = {
        r.doc_id: (r.eval_id, r.doc_start, r.doc_end, r.eval_start, r.run_tokens)
        for r in out.collect()
    }
    assert rows == {
        "doc/full": ("ev-1", 3, 22, 0, 20),
        "doc/mid": ("ev-1", 0, 13, 5, 14),
    }


def test_contamination_extents_multiple_runs_per_pair(spark):
    """Two DISJOINT leaked windows from the same eval item produce two
    rows (one per maximal run), not one merged span -- the property that
    distinguishes extents from the flag."""
    from mariadb_to_graylog_spark.operators.decontam import contamination_extents

    ev_toks = [f"w{i}" for i in range(40)]
    gap = " ".join(f"g{i}" for i in range(10))
    doc = (
        " ".join(ev_toks[0:15]) + " " + gap + " " + " ".join(ev_toks[25:40])
    )
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, " ".join(ev_toks))], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_start, r.doc_end, r.eval_start, r.run_tokens)
        for r in contamination_extents(docs, ev, n=13).collect()
    )
    assert got == [(0, 14, 0, 15), (25, 39, 25, 15)]


def test_contamination_extents_dup_eval_rows_and_null_eval_ids(spark):
    """The same eval item listed TWICE must not fragment or double-count
    runs (dense_rank + distinct-position islands absorb the duplicate
    matches); a NULL eval id always raises -- all NULL-id eval items
    would share one window partition and corrupt each other's extents."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mariadb_to_graylog_spark.operators.decontam import contamination_extents

    ev_item = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, f"pre one two {ev_item} post")], "doc_id long, text string"
    )
    ev_dup = spark.createDataFrame(
        [("e1", ev_item), ("e1", ev_item)], "doc_id string, text string"
    )
    rows = contamination_extents(docs, ev_dup, n=13).collect()
    assert [(r.doc_id, r.eval_id, r.doc_start, r.doc_end, r.run_tokens)
            for r in rows] == [(1, "e1", 3, 22, 20)]

    ev_null = spark.createDataFrame(
        [(None, ev_item)], "doc_id string, text string"
    )
    with pytest.raises(SparkRuntimeException, match="eval items need non-null"):
        contamination_extents(docs, ev_null, n=13).collect()


def test_paragraph_near_ops_expose_units_cache(spark):
    """persist_units=True caches the distinct-unit table with the
    lifecycle owned by the CALLER: every paragraph-near entry point
    exposes the handle as result.units_cache, unpersisting it clears the
    cache, and the default (off -- measured slower at bench scale, see
    near_paragraph_frequency) leaves the handle None and results equal."""
    from mariadb_to_graylog_spark.operators.paragraphs import paragraph_near_stats

    d = spark.createDataFrame(
        [(1, "alpha body\n\nshared footer"), (2, "beta body\n\nshared footer")],
        "doc_id long, text string",
    )
    out = paragraph_near_stats(d, persist_units=True)
    rows = sorted(tuple(r) for r in out.collect())
    assert out.units_cache.storageLevel.useMemory
    out.units_cache.unpersist()
    assert not out.units_cache.storageLevel.useMemory
    plain = paragraph_near_stats(d)
    assert plain.units_cache is None
    assert sorted(tuple(r) for r in plain.collect()) == rows
    # chain-safe handle: the units_cache ATTRIBUTE dies on the first
    # chained transformation, so cache_out=[] receives the handle
    # explicitly and it survives arbitrary chaining of the result
    handles = []
    out2 = paragraph_near_stats(d, persist_units=True, cache_out=handles)
    chained = out2.filter(F.lit(True))
    assert not hasattr(chained, "units_cache")  # the attribute is gone
    assert len(handles) == 1 and handles[0].storageLevel.useMemory
    chained.collect()
    handles[0].unpersist()
    assert not handles[0].storageLevel.useMemory
    # default off: nothing appended
    empty = []
    paragraph_near_stats(d, cache_out=empty).collect()
    assert empty == []


def test_contamination_flag_udf_reuses_supplied_broadcast(spark):
    """A long-lived app rebuilding its plan can hand the previous udf's
    broadcast back in: the new udf rides the SAME broadcast (no per-rebuild
    reship) and still flags correctly."""
    from pyspark.sql import functions as F

    from mariadb_to_graylog_spark.operators.decontam import (
        contamination_flag_udf,
        eval_gram_set,
    )

    eval_item = (
        "what is the capital of the ancient kingdom that bordered "
        "the western sea before the long winter"
    )
    ev = spark.createDataFrame([(eval_item,)], "text string")
    hashes = eval_gram_set(ev, n=13)

    udf1 = contamination_flag_udf(hashes, n=13)
    assert udf1.eval_broadcast is not None
    udf2 = contamination_flag_udf(n=13, eval_broadcast=udf1.eval_broadcast)
    assert udf2.eval_broadcast is udf1.eval_broadcast
    # passing both (or neither) is ambiguous -- the fresh set would be
    # silently ignored for the possibly-stale broadcast -- so it raises
    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        contamination_flag_udf(hashes, n=13, eval_broadcast=udf1.eval_broadcast)
    with pytest.raises(ValueError, match="exactly one"):
        contamination_flag_udf(n=13)

    docs = spark.createDataFrame(
        [(1, f"pad {eval_item} pad"), (2, "nothing to see in this one at all")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.flag
        for r in docs.select("doc_id", udf2(F.col("text")).alias("flag")).collect()
    }
    assert got == {1: True, 2: False}

    # the broadcast value is tagged with its gram width: reusing it with a
    # different n would probe an incompatible hash set and flag nothing,
    # so it raises instead of silently passing every contaminated doc
    with pytest.raises(ValueError, match="built for n=13.*n=7"):
        contamination_flag_udf(n=7, eval_broadcast=udf1.eval_broadcast)
    # an untagged broadcast (not produced by a flag udf) is rejected too
    raw_bc = spark.sparkContext.broadcast(frozenset({1, 2, 3}))
    with pytest.raises(ValueError, match="tagged"):
        contamination_flag_udf(n=13, eval_broadcast=raw_bc)
    raw_bc.unpersist()
    udf1.eval_broadcast.unpersist()


def test_winnow_overlap_catches_containment(spark):
    """A short doc pasted inside a long one: whole-doc Jaccard is low but
    winnow containment (shared / min sketch) is high; unrelated docs score
    no pair.  max_hash_df drops boilerplate hashes without inflating any
    score."""
    from mariadb_to_graylog_spark.operators.dedup import (
        ngram_jaccard_pairs,
        winnow_overlap_pairs,
    )

    excerpt = "the quick brown fox jumps over the lazy dog near the river bank"
    filler = (
        "completely different narrative material about distributed query "
        "engines shuffling partitioned columnar batches across executor "
        "boundaries while adaptive planning rewrites join strategies "
    ) * 3
    rows = [
        (1, filler + " " + excerpt + " " + filler),
        (2, excerpt),
        (3, "unrelated third document mentioning absolutely nothing shared"),
        (4, ""),  # empty after normalization: excluded, never paired
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r.id_a, r.id_b): r.overlap
        for r in winnow_overlap_pairs(df, min_overlap=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5
    assert all(p == (1, 2) for p in pairs)
    # whole-doc Jaccard misses the same pair at the same threshold
    jac = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df.filter("doc_id < 4"), threshold=0.5).collect()
    }
    assert (1, 2) not in jac

    # string doc ids work (no silent cast-to-long nulling the pairs)
    sdf = df.withColumn("doc_id", F.concat(F.lit("doc-"), F.col("doc_id")))
    spairs = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(sdf, min_overlap=0.5).collect()
    }
    assert spairs == {("doc-1", "doc-2")}

    # zero-frame media edge: frame_sample on a corpus with a zero-frame
    # GIF yields no rows for it instead of crashing sequence()
    from mariadb_to_graylog_spark.operators.multimodal import frame_sample

    empty_gif = (
        b"GIF89a" + b"\x05\x00\x04\x00\x00\x00\x00" + b"\x3b"
    )
    media = spark.createDataFrame(
        [(1, "video", bytearray(empty_gif), "image/gif", len(empty_gif))],
        "media_id long, kind string, payload binary, mime string, n_bytes long",
    )
    assert frame_sample(media).count() == 0

    # capping hash document-frequency can only lower scores, never raise
    uncapped = {
        (r.id_a, r.id_b): r.overlap
        for r in winnow_overlap_pairs(df, min_overlap=0.0).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.overlap
        for r in winnow_overlap_pairs(df, min_overlap=0.0, max_hash_df=1).collect()
    }
    assert set(capped) <= set(uncapped)
    assert all(capped[p] <= uncapped[p] for p in capped)


def test_multimodal_real_codecs(spark, docs):
    """attach_payload writes VALID containers; decode_media_meta parses
    the bytes back.  WAV payloads are cross-checked with the stdlib
    ``wave`` module (an independent reader) and PNG IDAT content with
    zlib -- so generator and parser cannot share a hidden bug."""
    import io
    import wave
    import zlib

    from mariadb_to_graylog_spark.operators.multimodal import (
        attach_payload,
        decode_media_meta,
        decode_pixels_real,
        frame_sample,
    )

    media = attach_payload(docs.limit(30))
    rows = {r.media_id: r for r in decode_media_meta(media).collect()}
    assert len(rows) == 30
    texts = {r.doc_id: r.text for r in docs.limit(30).collect()}
    for mid, r in rows.items():
        n_text = len((texts[mid] or "").encode("utf-8"))
        assert r.n_bytes == len(r.payload)
        if r.kind == "image":
            # decoded-from-bytes == closed-form generation params
            assert (r.width, r.height, r.channels) == (
                n_text % 64 + 16, n_text % 48 + 12, 3
            )
            assert r.sample_rate is None and r.bits_per_sample is None
            # the IDAT really is zlib of H scanlines of 1+3W bytes
            assert len(zlib.decompress(bytes(r.payload)[41:-12])) == (
                r.height * (1 + 3 * r.width)
            )
        elif r.kind == "audio":
            with wave.open(io.BytesIO(bytes(r.payload))) as w:  # independent reader
                assert w.getframerate() == r.sample_rate == 8000 + (n_text % 8) * 1000
                assert w.getnchannels() == r.channels == 1 + mid % 2
                assert w.getsampwidth() * 8 == r.bits_per_sample == 16
                assert w.getnframes() == n_text % 32 + 1
            assert r.width is None and r.height is None
        else:  # video = animated GIF: decoded screen dims + REAL frame count
            assert (r.width, r.height, r.n_frames) == (
                n_text % 32 + 8, n_text % 24 + 6, n_text % 12 + 2
            )
            assert r.channels is None and r.sample_rate is None
            assert bytes(r.payload)[:6] == b"GIF89a"
    # frame sampling explodes the DECODED frame count (every 2nd frame)
    frames = frame_sample(media, every_n=2)
    per_media = {}
    for fr in frames.collect():
        per_media.setdefault(fr.media_id, []).append(fr.frame_idx)
    for mid, idxs in per_media.items():
        n = rows[mid].n_frames
        assert sorted(idxs) == list(range(0, n, 2))
    assert per_media  # at least one video present
    with pytest.raises(NotImplementedError):
        decode_pixels_real(media).collect()


def test_media_header_parsers_reject_malformed():
    """Corrupt signatures/CRCs must yield None, not garbage fields."""
    from mariadb_to_graylog_spark.operators.multimodal import (
        make_png,
        make_wav,
        parse_png_header,
        parse_wav_header,
    )

    png = make_png(20, 14, pixel_byte=7)
    assert parse_png_header(png) == (20, 14, 3)
    assert parse_png_header(b"\x89PNG" + png[4:]) == (20, 14, 3)
    assert parse_png_header(png[1:]) is None  # broken signature
    corrupt = png[:20] + bytes([png[20] ^ 0xFF]) + png[21:]
    assert parse_png_header(corrupt) is None  # IHDR CRC mismatch
    assert parse_png_header(b"") is None

    from mariadb_to_graylog_spark.operators.multimodal import (
        make_gif,
        parse_gif_meta,
    )

    gif = make_gif(33, 21, 5)
    assert parse_gif_meta(gif) == (33, 21, 5)
    # a structurally valid ZERO-frame GIF (header + trailer, no image
    # descriptors) decodes to n_frames=0 -- it must not crash the
    # decoder, and frame_sample must yield no rows for it (not throw on
    # sequence(0, -1, step))
    import struct as _s

    empty_gif = b"GIF89a" + _s.pack("<HHBBB", 5, 4, 0, 0, 0) + b"\x3b"
    assert parse_gif_meta(empty_gif) == (5, 4, 0)
    # an 0x2C byte INSIDE an extension's data must not count as a frame:
    # the parser walks sub-block chains instead of byte-scanning
    comment = b"\x21\xfe\x03" + b"\x2c\x2c\x2c" + b"\x00"
    spiked = gif[:13] + gif[13:19] + comment + gif[19:]
    assert parse_gif_meta(spiked) == (33, 21, 5)
    assert parse_gif_meta(gif[:-1]) is None  # truncated: no trailer
    assert parse_gif_meta(b"GIF89a") is None
    assert parse_gif_meta(b"RIFF" + gif[4:]) is None

    wav = make_wav(11000, 2, 5)
    assert parse_wav_header(wav) == (11000, 2, 16)
    # an extra chunk before fmt must be walked over, not tripped on
    import struct as _s

    padded = (
        wav[:12] + b"LIST" + _s.pack("<I", 4) + b"INFO" + wav[12:]
    )
    fixed = (
        b"RIFF" + _s.pack("<I", len(padded) - 8) + padded[8:]
    )
    assert parse_wav_header(fixed) == (11000, 2, 16)
    assert parse_wav_header(wav[:11]) is None
    assert parse_wav_header(b"RIFFxxxxAIFF") is None


def test_cdc_chunks_survive_byte_shift(spark):
    """Content-defined boundaries re-align after an injected preamble:
    the shifted copy shares its interior chunks with the original (a
    fixed-width blocker would share none); unrelated docs share nothing;
    whitespace-only docs produce no chunks; chunks reassemble to the
    normalized text exactly (no char lost at boundaries)."""
    from pyspark.sql import functions as F

    from mariadb_to_graylog_spark.operators.dedup import (
        cdc_chunk_stats,
        cdc_chunks,
    )
    from mariadb_to_graylog_spark.operators.textstats import normalize_text

    body = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through fields of golden wheat toward the distant river bank "
        "where herons wade in shallow water "
    ) * 3
    d = spark.createDataFrame(
        [
            (1, body + "unique ending one"),
            (2, "editor note republished from archive " + body + "other end"),
            (3, "entirely unrelated content about database query planning"),
            (4, "   \n  "),
        ],
        "doc_id long, text string",
    )
    stats = {r.doc_id: r for r in cdc_chunk_stats(d).collect()}
    assert stats[1].n_dup_chunks >= 1 and stats[2].n_dup_chunks >= 1
    assert stats[1].n_dup_chunks == stats[2].n_dup_chunks  # the shared interior
    assert stats[3].n_dup_chunks == 0
    assert 4 not in stats  # whitespace-only: no chunks, no row

    # lossless partition: chunks concatenate back to the normalized text
    rows = d.select(
        F.array_join(cdc_chunks(F.col("text")), "").alias("joined"),
        normalize_text(F.col("text")).alias("norm"),
    ).collect()
    for r in rows:
        assert r.joined == r.norm


def test_cdc_chunkers_hof_and_pandas_identical(spark):
    """The Arrow/numpy chunker (the default) must produce byte-identical
    chunk arrays to the HOF expression (the oracle reference) across
    edge shapes: short-of-window, boundary-dense, unicode, empty."""
    from pyspark.sql import functions as F

    from mariadb_to_graylog_spark.operators.dedup import cdc_chunks, cdc_chunks_pandas

    body = ("streaming shuffle partition windows over columnar batches "
            "with adaptive plans rewriting joins at runtime ") * 5
    rows = [
        (1, body),
        (2, "short"),
        (3, ""),
        (4, "   \t  "),
        (5, "café naïve über " * 20),
        (6, "a" * 500),  # degenerate self-similar run
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    both = d.select(
        "doc_id",
        cdc_chunks(F.col("text")).alias("hof"),
        cdc_chunks_pandas()(F.col("text")).alias("pdu"),
    ).collect()
    for r in both:
        assert list(r.hof) == list(r.pdu), f"doc {r.doc_id} diverged"


def test_source_ngram_overlap_matrix(spark):
    """Cross-source copying lights up the (a, b) cell with the copied
    run's gram count; SAME-source duplication contributes nothing (that
    is per-document dedup's job); the bucket cap drops ecosystem-wide
    boilerplate grams."""
    from mariadb_to_graylog_spark.operators.dedup import source_ngram_overlap

    run = " ".join(f"w{i}" for i in range(20))  # 20 tokens -> 6 15-grams
    boiler = " ".join(f"b{i}" for i in range(15))  # in EVERY source
    rows = [
        (1, "srcA", f"{run} unique tail alpha {boiler}"),
        (2, "srcB", f"other head {run} {boiler}"),   # copies run from A
        (3, "srcB", f"other head {run} {boiler}"),   # same-source dup
        (4, "srcC", f"totally different content with no overlap {boiler}"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source_a, r.source_b): r.n_shared_grams
        for r in source_ngram_overlap(d, n=15).collect()
    }
    # uncapped: A-B share the run's 6 grams; every pair shares the
    # boilerplate gram
    assert got[("srcA", "srcB")] == 7
    assert got[("srcA", "srcC")] == 1 and got[("srcB", "srcC")] == 1
    # cap at 2 sources: the 3-source boilerplate gram drops, copying stays
    capped = {
        (r.source_a, r.source_b): r.n_shared_grams
        for r in source_ngram_overlap(d, n=15, max_bucket_size=2).collect()
    }
    assert capped == {("srcA", "srcB"): 6}


def test_domain_language_mix_routing_table(spark):
    """Per-domain language shares sum to 1, the plurality language gets
    the dominant flag, and EXACT ties resolve to the lexicographically
    smallest lang -- deterministic routing, no arbitrary winner."""
    from mariadb_to_graylog_spark.operators.textstats import domain_language_mix

    rows = [
        (1, "en", "see https://news.alpha.io/a"),
        (2, "en", "see https://alpha.io/b"),        # same registrable domain
        (3, "fr", "voir https://alpha.io/c"),
        (4, "de", "nur https://beta.example/x"),    # beta: exact de/fr tie
        (5, "fr", "voir https://beta.example/y"),
        (6, "en", "no urls cited here at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r.domain, r.lang): (r.n_docs, r.lang_share, r.is_dominant)
        for r in domain_language_mix(d).collect()
    }
    assert got[("alpha.io", "en")] == (2, round(2 / 3, 6), True)
    assert got[("alpha.io", "fr")] == (1, round(1 / 3, 6), False)
    # tie on beta.example: 'de' < 'fr' lexicographically -> de dominant
    assert got[("beta.example", "de")] == (1, 0.5, True)
    assert got[("beta.example", "fr")] == (1, 0.5, False)
    assert not any(dom not in ("alpha.io", "beta.example") for dom, _ in got)


def test_token_rarity_hapax_signal(spark):
    """Gibberish (corpus-unique tokens) scores hapax_frac 1.0; text whose
    every token recurs elsewhere scores 0.0; rare_max widens the band;
    tokenless docs report zeros, not NULLs."""
    from mariadb_to_graylog_spark.operators.textstats import token_rarity

    d = spark.createDataFrame(
        [
            (1, "qzxv bnmp wrtk jhgf"),            # 4 corpus-unique tokens
            (2, "common words appear here twice"),
            (3, "common words appear here twice"),  # mirrors doc 2
            (4, "common mixed qqq"),               # 2 recurring + 1 hapax
            (5, "!!! ..."),                         # no [a-z0-9] tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_hapax, r.n_rare, r.hapax_frac)
        for r in token_rarity(d, rare_max=2).collect()
    }
    assert got[1] == (4, 4, 4, 1.0)
    assert got[2][:2] == (5, 0) and got[2][3] == 0.0
    # doc 4: 'common' appears 3x in corpus (docs 2,3,4) -> not rare at 2;
    # 'mixed'/'qqq' are hapax
    assert got[4] == (3, 2, 2, round(2 / 3, 6))
    assert got[5] == (0, 0, 0, 0.0)


def test_stratified_quota_sample_exact_counts(spark):
    """Exactly min(quota, stratum size) rows per listed stratum, unlisted
    strata dropped, selection deterministic across runs, different salts
    draw different samples."""
    from mariadb_to_graylog_spark.operators.textstats import (
        stratified_quota_sample,
    )

    rows = [(i, "en" if i < 40 else ("de" if i < 52 else "xx"), f"t{i}")
            for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    quotas = {"en": 10, "de": 100}  # de quota exceeds its 12-doc stratum

    k1 = stratified_quota_sample(d, quotas, salt="a").collect()
    by_lang = {}
    for r in k1:
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert len(by_lang["en"]) == 10
    assert sorted(by_lang["de"]) == list(range(40, 52))  # whole stratum
    assert "xx" not in by_lang

    k2 = stratified_quota_sample(d, quotas, salt="a").collect()
    assert sorted(map(tuple, k1)) == sorted(map(tuple, k2))  # deterministic
    k3 = {r.doc_id for r in stratified_quota_sample(d, quotas, salt="b").collect()}
    assert k3 != {r.doc_id for r in k1}  # salt changes the draw


def test_verbatim_coverage_interval_union(spark):
    """Coverage = union of shared-run intervals per doc: a doc sharing
    overlapping runs with TWO different partners counts the overlap once;
    a fully-contained doc reports coverage 1.0; a clean doc 0.0."""
    from mariadb_to_graylog_spark.operators.dedup import verbatim_coverage

    w = [f"w{i}" for i in range(30)]  # 30 shared-vocabulary tokens
    uniq = lambda tag, k: " ".join(f"{tag}{i}" for i in range(k))
    rows = [
        # doc 1: tokens 0..29 of w, flanked by unique filler (10 + 10)
        (1, f"{uniq('a', 10)} {' '.join(w)} {uniq('b', 10)}"),
        # doc 2: shares w[0..19] with doc 1 (plus unique tail)
        (2, f"{' '.join(w[0:20])} {uniq('c', 15)}"),
        # doc 3: shares w[10..29] with doc 1 (plus unique head)
        (3, f"{uniq('d', 15)} {' '.join(w[10:30])}"),
        # doc 4: fully contained in doc 1 (a verbatim slice, 16 tokens)
        (4, " ".join(w[5:21])),
        (5, "completely clean unique document with no overlap at all here"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens, r.coverage)
        for r in verbatim_coverage(d, n=15).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    # doc 1: runs w[0..19] (doc 2), w[10..29] (doc 3), w[5..20] (doc 4)
    # all overlap -> union exactly w[0..29] = 30 tokens at offset 10
    assert got[1] == (50, 30, 0.6)
    assert got[2] == (35, 20, round(20 / 35, 6))
    assert got[3] == (35, 20, round(20 / 35, 6))
    assert got[4] == (16, 16, 1.0)  # fully contained
    assert got[5] == (10, 0, 0.0)


def test_verbatim_coverage_and_trim_match_bruteforce(spark):
    """Exactness of the diagonal-islands + interval-union machinery vs an
    O(docs^2 * len^2) Python reference on seeded small-vocabulary corpora
    -- tiny vocab makes ACCIDENTAL >= n-token runs likely, stressing
    overlapping/nested/repeated-run geometry no hand-planted case covers."""
    import random

    from mariadb_to_graylog_spark.operators.dedup import (
        trim_verbatim_runs,
        verbatim_coverage,
    )

    def brute(docs, n):
        toks = {i: t.lower().split() for i, t in docs}
        cov = {i: set() for i in toks}
        cov_lower = {i: set() for i in toks}
        for a in toks:
            for b in toks:
                if a == b:
                    continue
                ta, tb = toks[a], toks[b]
                for ia in range(len(ta)):
                    for ib in range(len(tb)):
                        L = 0
                        while (
                            ia + L < len(ta)
                            and ib + L < len(tb)
                            and ta[ia + L] == tb[ib + L]
                        ):
                            L += 1
                        if L >= n:
                            cov[a].update(range(ia, ia + L))
                            if b < a:
                                cov_lower[a].update(range(ia, ia + L))
        return toks, cov, cov_lower

    for seed in (7, 23):
        rng = random.Random(seed)
        vocab = [f"v{i}" for i in range(8)]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(30)))
            for i in range(12)
        ]
        toks, cov, cov_lower = brute(docs, n=5)
        d = spark.createDataFrame(docs, "doc_id long, text string")

        for strategy in ("grouped", "join"):
            got_cov = {
                r.doc_id: (r.n_tokens, r.covered_tokens)
                for r in verbatim_coverage(d, n=5, strategy=strategy).collect()
            }
            assert got_cov == {
                i: (len(toks[i]), len(cov[i])) for i in toks
            }, f"coverage mismatch at seed {seed} strategy {strategy}"

            got_trim = {
                r.doc_id: (r.trimmed_text, r.n_tokens_removed)
                for r in trim_verbatim_runs(d, n=5, strategy=strategy).collect()
            }
            want_trim = {
                i: (
                    " ".join(
                        t for p, t in enumerate(toks[i]) if p not in cov_lower[i]
                    ),
                    len(cov_lower[i]),
                )
                for i in toks
            }
            assert got_trim == want_trim, f"trim mismatch at seed {seed} strategy {strategy}"


def test_verbatim_grouped_needs_no_cap_on_degenerate_grams(spark):
    """The r5 trade-off the grouped strategy removes: a degenerate gram
    (one 5-token phrase repeated across every doc) forces the join path
    to either blow up quadratically or DROP the gram under
    max_bucket_size -- silently missing real duplication on the
    destructive path.  The grouped path has no cap and must (a) agree
    exactly with the UNCAPPED join path, and (b) catch the duplication
    the capped join path misses."""
    from mariadb_to_graylog_spark.operators.dedup import (
        trim_verbatim_runs,
        verbatim_coverage,
    )

    phrase = "the quick brown fox jumps"  # one shared 5-gram, 40 occurrences
    rows = [
        (i, f"u{i}a u{i}b {phrase} u{i}c u{i}d") for i in range(40)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    cov_grouped = {
        (r.doc_id, r.covered_tokens, r.coverage)
        for r in verbatim_coverage(d, n=5, strategy="grouped").collect()
    }
    cov_join = {
        (r.doc_id, r.covered_tokens, r.coverage)
        for r in verbatim_coverage(d, n=5, strategy="join").collect()
    }
    assert cov_grouped == cov_join  # uncapped join twin agrees exactly
    assert all(c == 5 for _, c, _ in cov_grouped)  # every doc: the phrase

    trim_grouped = {
        (r.doc_id, r.trimmed_text, r.n_tokens_removed)
        for r in trim_verbatim_runs(d, n=5, strategy="grouped").collect()
    }
    trim_join = {
        (r.doc_id, r.trimmed_text, r.n_tokens_removed)
        for r in trim_verbatim_runs(d, n=5, strategy="join").collect()
    }
    assert trim_grouped == trim_join
    # doc 0 keeps the only surviving copy; every other doc loses it
    got = {i: (t, rm) for i, t, rm in trim_grouped}
    assert got[0] == (f"u0a u0b {phrase} u0c u0d", 0)
    for i in range(1, 40):
        assert got[i] == (f"u{i}a u{i}b u{i}c u{i}d", 5)

    # the capped join path DROPS the degenerate gram (the miss the
    # grouped default exists to eliminate)
    capped = {
        r.doc_id: r.n_tokens_removed
        for r in trim_verbatim_runs(
            d, n=5, strategy="join", max_bucket_size=10
        ).collect()
    }
    assert all(v == 0 for v in capped.values())


def test_trim_verbatim_runs_keeps_lowest_id_copy(spark):
    """One occurrence of each duplicated run survives: the LOWEST-id doc
    keeps its text untouched, higher-id docs lose the shared span
    (interior trims splice around it); a doc fully contained in a
    lower-id doc returns an empty husk; clean docs pass through
    normalized."""
    from mariadb_to_graylog_spark.operators.dedup import trim_verbatim_runs

    w = [f"w{i}" for i in range(20)]
    rows = [
        (1, " ".join(w)),                                 # source: keeps all
        (2, "head one two " + " ".join(w) + " tail three"),  # interior trim
        (3, " ".join(w[0:16])),                            # fully contained
        (4, "Fully CLEAN   doc with nothing shared here"),  # normalization only
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.trimmed_text, r.n_tokens, r.n_tokens_removed)
        for r in trim_verbatim_runs(d, n=15).collect()
    }
    assert got[1] == (" ".join(w), 20, 0)
    assert got[2] == ("head one two tail three", 25, 20)
    assert got[3] == ("", 16, 16)
    assert got[4] == ("fully clean doc with nothing shared here", 7, 0)


def test_paragraph_dedup_planted_boilerplate(spark):
    """Planted boilerplate: unique bodies + one footer shared by all docs.
    Stats must attribute exactly the footer to duplication, and the
    cleaned text must drop it while preserving paragraph order; a doc that
    is PURE boilerplate comes back as an empty husk, not dropped."""
    from mariadb_to_graylog_spark.operators.paragraphs import (
        drop_duplicate_paragraphs,
        paragraph_stats,
    )

    footer = "subscribe to our newsletter"
    rows = [
        (1, f"alpha body one\n\nbeta body one\n\n{footer}"),
        (2, f"alpha body two\n\n{footer}\n\ngamma body two"),
        (3, footer),  # pure boilerplate
        (4, "entirely unique document"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r.doc_id: r for r in paragraph_stats(d).collect()}
    assert stats[1].n_paras == 3 and stats[1].n_dup_paras == 1
    assert stats[2].n_paras == 3 and stats[2].n_dup_paras == 1
    assert stats[3].n_paras == 1 and stats[3].boilerplate_frac == 1.0
    assert stats[4].n_dup_paras == 0 and stats[4].boilerplate_frac == 0.0
    clean = {r.doc_id: r for r in drop_duplicate_paragraphs(d).collect()}
    assert clean[1].clean_text == "alpha body one\n\nbeta body one"
    # order preserved around an INTERIOR dropped paragraph
    assert clean[2].clean_text == "alpha body two\n\ngamma body two"
    assert clean[3].clean_text == "" and clean[3].n_dropped == 1
    assert clean[4].clean_text == "entirely unique document"


def test_paragraph_near_dedup_templated_boilerplate(spark):
    """TEMPLATED boilerplate ('Subscribe to the {lang} newsletter') with
    per-doc variation: every footer instance is md5-UNIQUE, so exact
    paragraph_stats sees zero duplication -- the near path must flag the
    footer in every doc (one-hop LSH-verified neighborhood spans all
    docs) while leaving the unique bodies alone."""
    from mariadb_to_graylog_spark.operators.paragraphs import (
        paragraph_near_stats,
        paragraph_stats,
    )

    langs = ["english", "francais", "deutsch", "espanol"]
    bodies = [
        "completely unique body text about distributed query planning",
        "another singular body covering adaptive shuffle partitioning",
        "a third standalone body describing columnar batch execution",
        "the fourth body examines watermark semantics in streams",
    ]
    rows = [
        (i + 1, f"{bodies[i]}\n\nSubscribe to the {langs[i]} newsletter "
                f"for weekly updates and offers.")
        for i in range(4)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {r.doc_id: r for r in paragraph_stats(d).collect()}
    assert all(exact[i].n_dup_paras == 0 for i in exact), "footers must be md5-unique"

    near = {r.doc_id: r for r in paragraph_near_stats(d, threshold=0.6).collect()}
    for i in range(1, 5):
        assert near[i].n_paras == 2
        assert near[i].n_near_dup_paras == 1, f"doc {i} footer not flagged"
        assert near[i].near_dup_ratio == 0.5
        assert 0.0 < near[i].near_boilerplate_frac < 1.0


def test_crosslingual_near_dup_catches_confusable_copies(spark, docs):
    """Homoglyph/diacritic-substituted copies (Cyrillic а/е/о for Latin
    a/e/o, ü/í/ñ/š/ç for u/i/n/s/c) are invisible to byte-level LSH --
    the planted pairs must be found by crosslingual_near_dup and missed
    by plain lsh_jaccard_verified on the same corpus."""
    from mariadb_to_graylog_spark.operators.dedup import (
        crosslingual_near_dup,
        lsh_jaccard_verified,
    )

    plant_from, plant_to = "aeouinsc", "аеоüíñšç"
    var = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.translate(F.col("text"), plant_from, plant_to), F.lit(" xyz")
        ).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(var)
    planted = {
        (r.doc_id, r.doc_id + 300000)
        for r in docs.filter(F.col("doc_id") % 9 == 0).collect()
    }
    kw = dict(shingle_n=4, bands=4, rows_per_band=8, n=3, threshold=0.5)
    folded_pairs = {
        (r.id_a, r.id_b) for r in crosslingual_near_dup(both, **kw).collect()
    }
    assert planted <= folded_pairs, (
        f"missed {len(planted - folded_pairs)}/{len(planted)} planted pairs"
    )
    plain_pairs = {
        (r.id_a, r.id_b) for r in lsh_jaccard_verified(both, **kw).collect()
    }
    assert not (planted & plain_pairs), "byte-level LSH should miss all of them"


def test_fold_confusables_diacritics_and_homoglyphs(spark):
    """The fold canonicalizes case, diacritics, Cyrillic confusables and
    whitespace; deletions (soft/hard signs) ride the translate tail."""
    from mariadb_to_graylog_spark.operators.textstats import fold_confusables

    rows = [
        (1, "  Café  RÉSUMÉ naïve "),
        (2, "cafe resume naive"),
        (3, "прóбa"),  # mixed Cyrillic + accented Latin
        (4, "мягкостьъ"),  # trailing soft/hard signs deleted
    ]
    d = spark.createDataFrame(rows, "id long, t string")
    got = {
        r.id: r.f
        for r in d.select("id", fold_confusables(F.col("t")).alias("f")).collect()
    }
    assert got[1] == got[2] == "cafe resume naive"
    assert got[3] == "proba"
    assert got[4] == "magkost"


def test_minhash_signature_engines_equal(spark, docs):
    """The codegen minhash engine (exploded shingles + min aggregates,
    the default) must emit BIT-IDENTICAL signatures to the interpreted
    HOF twin -- including short texts (whole-prefix window), empty
    strings, and NULL texts (row preserved with NULL sigs, which plain
    explode would silently drop)."""
    from mariadb_to_graylog_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_hof,
    )

    edge = spark.createDataFrame(
        [(900001, "ab"), (900002, ""), (900003, None), (900004, "abcd")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    k = 16
    a = {
        r["id"]: tuple(r[f"mh_{j}"] for j in range(k))
        for r in minhash_signatures(both, num_hashes=k).collect()
    }
    b = {
        r["id"]: tuple(r[f"mh_{j}"] for j in range(k))
        for r in minhash_signatures_hof(both, num_hashes=k).collect()
    }
    assert a == b
    assert 900003 in a and all(v is None for v in a[900003])  # NULL text kept


def test_paragraph_near_stats_subsumes_exact_dups(spark):
    """Verbatim boilerplate (identical hash across docs) is flagged by the
    near path WITHOUT needing any LSH pair -- a paragraph is in its own
    neighborhood -- so near stats strictly dominate exact stats."""
    from mariadb_to_graylog_spark.operators.paragraphs import paragraph_near_stats

    footer = "subscribe to our newsletter"
    d = spark.createDataFrame(
        [
            (1, f"alpha unique body\n\n{footer}"),
            (2, f"beta unique body\n\n{footer}"),
            (3, "gamma standalone document with nothing shared"),
        ],
        "doc_id long, text string",
    )
    near = {r.doc_id: r for r in paragraph_near_stats(d).collect()}
    assert near[1].n_near_dup_paras == 1 and near[2].n_near_dup_paras == 1
    assert near[3].n_near_dup_paras == 0


def test_paragraph_stats_blank_run_separators(spark):
    """\\n\\s*\\n separators collapse (space-padded blank lines still
    split); intra-paragraph single newlines do NOT split."""
    from mariadb_to_graylog_spark.operators.paragraphs import explode_paragraphs

    d = spark.createDataFrame(
        [(1, "line one\nline two\n   \ntail para")], "doc_id long, text string"
    )
    paras = [r.para for r in explode_paragraphs(d).orderBy("para_idx").collect()]
    assert paras == ["line one\nline two", "tail para"]


def test_shared_ngram_pairs_verbatim_run(spark):
    """Docs sharing a >= n-token verbatim run pair up; disjoint docs do
    not; a run of length L shares L - n + 1 grams; the bucket cap drops
    degenerate grams loudly documented as cluster signals."""
    from mariadb_to_graylog_spark.operators.dedup import shared_ngram_pairs

    run = " ".join(f"w{i}" for i in range(6))  # 6 shared tokens
    rows = [
        (1, f"intro {run} outro"),
        (2, f"other prefix {run} different suffix"),
        (3, "completely unrelated text with no overlap at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared_grams
        for r in shared_ngram_pairs(d, n=4).collect()
    }
    # 6-token run, n=4 -> 3 shared grams (the flanking tokens differ)
    assert pairs == {(1, 2): 3}
    # cap of 1 drops every gram shared by 2 docs -> no pairs
    assert shared_ngram_pairs(d, n=4, max_bucket_size=1).count() == 0
    # and the drop is never silent: the stats twin quantifies it
    from mariadb_to_graylog_spark.operators.dedup import ngram_bucket_stats

    st = ngram_bucket_stats(d, n=4, max_bucket_size=1).first()
    assert st.max_bucket == 2  # the 3 shared grams each occur twice
    assert st.grams_dropped == 3 and st.pairs_dropped == 3
    assert st.candidate_pairs == 3


def test_shared_run_extents_exact_lengths(spark):
    """Planted runs of EXACT known token lengths must come back exactly:
    a run of L tokens = L-n+1 consecutive grams on one diagonal + n-1."""
    from mariadb_to_graylog_spark.operators.dedup import shared_run_extents

    run9 = " ".join(f"r{i}" for i in range(9))
    run6 = " ".join(f"s{i}" for i in range(6))
    rows = [
        (1, f"aa bb {run9} cc dd {run6} ee"),
        (2, f"xx {run9} yy zz"),          # shares the 9-run with doc 1
        (3, f"{run6} pp qq rr"),          # shares the 6-run with doc 1
        (4, "nothing in common here at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.max_run_tokens
        for r in shared_run_extents(d, n=4).collect()
    }
    assert got == {(1, 2): 9, (1, 3): 6}
    # feeding precomputed pairs restricts the output to those pairs
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got2 = {
        (r.id_a, r.id_b): r.max_run_tokens
        for r in shared_run_extents(d, pairs=pairs, n=4).collect()
    }
    assert got2 == {(1, 2): 9}
    # the degenerate-gram cap applies on the pairs path too (a gram in k
    # positions per side would emit k^2 matched rows per pair otherwise)
    assert (
        shared_run_extents(d, pairs=pairs, n=4, max_bucket_size=1).count() == 0
    )


def test_shared_run_extents_repeated_and_degenerate(spark):
    """A run appearing TWICE in one doc (two diagonals) and degenerate
    self-similar text (one gram at many positions -> k^2 matched rows)
    must both recover the true longest-common-run length."""
    from mariadb_to_graylog_spark.operators.dedup import shared_run_extents

    run5 = "r0 r1 r2 r3 r4"
    rows = [
        (1, f"{run5} x {run5}"),       # the run twice
        (2, f"y {run5} z"),
        (3, "a a a a a a a"),           # 7 identical tokens
        (4, "b a a a a a c"),           # 5 identical tokens inside
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.max_run_tokens
        for r in shared_run_extents(d, n=4).collect()
    }
    assert got[(1, 2)] == 5
    assert got[(3, 4)] == 5  # longest common run of 'a's is doc 4's 5


def test_url_features_goldens(spark):
    from mariadb_to_graylog_spark.operators.textstats import url_features

    rows = [
        (1, "see https://cdn.assets.example.com:8080/a/b and http://example.org"),
        (2, "plain text, no links"),
        (3, "dev box http://localhost/x then https://cdn.assets.example.com/y"),
        (4, "Visit https://example.org. Next sentence, or https://example.com- ok"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in url_features(d).collect()}
    assert got[1].n_urls == 2
    assert got[1].hosts == "cdn.assets.example.com,example.org"
    assert got[1].domains == "example.com,example.org"
    assert got[2].n_urls == 0 and got[2].hosts == "" and got[2].domains == ""
    # single-label host folds to itself; duplicate host collapses
    assert got[3].hosts == "cdn.assets.example.com,localhost"
    assert got[3].domains == "example.com,localhost"
    # sentence-ending '.'/'-' must NOT be swallowed into the host
    assert got[4].hosts == "example.com,example.org"
    assert got[4].domains == "example.com,example.org"


def test_domain_reputation_citation_axis(spark):
    """Reputation keyed on CITED registrable domains: multi-domain docs
    contribute to every domain they cite, URL-less docs contribute none,
    and the per-domain aggregate counts citing docs once each."""
    from mariadb_to_graylog_spark.operators.textstats import domain_reputation

    rows = [
        (1, "the story at https://a.example.com/x and https://b.example.org/y"),
        (2, "more at http://cdn.a.example.com/z of the day"),
        (3, "no links at all in this one"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.domain): r for r in domain_reputation(d).collect()}
    assert set(got) == {(1, "example.com"), (1, "example.org"), (2, "example.com")}
    assert got[(1, "example.com")].dom_n_docs == 2  # docs 1 and 2 cite it
    assert got[(1, "example.org")].dom_n_docs == 1


def test_source_reputation_dup_rate_and_broadcast(spark):
    """Verbatim dup inside one source moves only that source's dup_rate;
    the join back to documents must be a broadcast (no doc-side
    shuffle)."""
    from mariadb_to_graylog_spark.operators.textstats import source_reputation

    rows = [
        (1, "the quick brown fox", "srcA"),
        (2, "the quick brown fox", "srcA"),  # verbatim dup
        (3, "a different text in srcA", "srcA"),
        (4, "unique text one", "srcB"),
        (5, "unique text two", "srcB"),
        (6, "provenance unknown", None),  # NULL source is a real group
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    rep = source_reputation(d)
    got = {r.doc_id: r for r in rep.collect()}
    assert got[1].src_n_docs == 3
    assert abs(got[1].src_dup_rate - round(1 / 3, 6)) < 1e-9
    assert got[4].src_dup_rate == 0.0
    # "joined back to EVERY document": null-source docs survive (null-safe
    # join) instead of silently vanishing
    assert 6 in got and got[6].src_n_docs == 1 and got[6].source is None
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_contamination_bucketed_equals_broadcast(spark, docs):
    """The distributed-join decontam path must agree row-for-row with the
    broadcast path on the same inputs (same contract, different physical
    strategy)."""
    from mariadb_to_graylog_spark.operators.decontam import (
        contamination,
        contamination_bucketed,
    )

    d = docs.limit(80)
    ev = d.filter(F.col("doc_id") % 13 == 0)
    a = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in contamination(d, ev, n=13).collect()
    }
    b = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in contamination_bucketed(d, ev, n=13).collect()
    }
    assert a == b and any(v[1] for v in b.values())


def test_eval_gram_set_size_guard(spark, docs):
    """The 'eval corpus is small' contract is enforced: over the cap the
    collect never happens and the error names the contract; under the cap
    the set comes back as before."""
    from mariadb_to_graylog_spark.operators.decontam import eval_gram_set

    ev = docs.limit(20)
    hs = eval_gram_set(ev, n=13)
    assert hs and all(isinstance(h, int) for h in hs)
    with pytest.raises(ValueError, match="eval corpus must be small"):
        eval_gram_set(ev, n=13, max_hashes=3)
    # the guard must protect the full_md5 (destructive) path too -- its
    # DEFAULT ceiling is width-sized (6M strings, not 50M longs), and an
    # explicit cap enforces identically
    with pytest.raises(ValueError, match="eval corpus must be small"):
        eval_gram_set(ev, n=13, max_hashes=3, full_md5=True)


def test_attach_payload_null_id_policy(spark):
    """NULL-id rows can't produce media; the loss must be OBSERVABLE:
    default policy fails the job with the count in the message,
    on_null_id='drop' is the explicit opt-in."""
    from py4j.protocol import Py4JJavaError

    from mariadb_to_graylog_spark.operators.multimodal import attach_payload

    d = spark.createDataFrame(
        [(1, "hello"), (None, "orphan"), (2, "world")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="NULL 'doc_id'"):
        attach_payload(d).collect()
    kept = attach_payload(d, on_null_id="drop").collect()
    assert sorted(r.media_id for r in kept) == [1, 2]
    with pytest.raises(ValueError, match="on_null_id"):
        attach_payload(d, on_null_id="ignore")


def test_rolling_hash_oracle_seed_high_codepoints(spark):
    """DuckDB-oracle fold parity for codepoints >= the modulus (planes
    15-16 private use): list_reduce's first-element seed skips the first
    `% mod` step on SINGLE-element folds (1-char windows), so the oracle
    now prepends an explicit 0 seed.  Spark HOF fold, numpy kernel, and
    the DuckDB expression must return identical integers."""
    import duckdb

    from mariadb_to_graylog_spark.operators.textstats import (
        rolling_hash_shingles,
        winnow_sketch_py,
    )

    for s in ["\U00100000", "\U00100000bcdefghij"]:
        spark_hs = (
            spark.createDataFrame([(s,)], "text string")
            .select(rolling_hash_shingles(F.col("text")).alias("hs"))
            .first()
            .hs
        )
        duck_hs = duckdb.execute(
            """
            SELECT list_transform(
              range(1, greatest(length(s) - 7, 1) + 1),
              i -> list_reduce(
                     list_prepend(0, list_transform(
                        range(1, length(substr(s, CAST(i AS INT), 8)) + 1),
                        j -> CAST(ascii(substr(substr(s, CAST(i AS INT), 8),
                                              CAST(j AS INT), 1)) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 1000003)) AS hs
            FROM (SELECT ?::VARCHAR AS s)
            """,
            [s],
        ).fetchone()[0]
        assert spark_hs == duck_hs, s
        # the numpy kernel agrees: its sketch equals the stride-min +
        # stable-distinct of the very same hash list
        expected_sketch = list(
            dict.fromkeys(
                min(spark_hs[k : k + 4]) for k in range(0, len(spark_hs), 4)
            )
        )
        assert winnow_sketch_py(s) == expected_sketch, s


def test_streaming_pipeline(spark, transcripts, tmp_path):
    from mariadb_to_graylog_spark.plans.pipeline import build_routed
    from mariadb_to_graylog_spark.streaming.stream_pipeline import (
        read_transcript_stream,
        start_pipeline_stream,
    )

    src = str(tmp_path / "src")
    transcripts.write.parquet(src)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=100)
    q = start_pipeline_stream(
        stream, str(tmp_path / "sinks"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(str(tmp_path / "sinks"))
    expected = build_routed(transcripts).filter(F.col("sink") != "dropped")
    assert got.count() == expected.count()
    g = {r.sink: r.n for r in got.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}
    e = {r.sink: r.n for r in expected.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert g == e


def test_streaming_windowed_counts(spark, transcripts, tmp_path):
    from mariadb_to_graylog_spark.streaming.stream_pipeline import (
        read_transcript_stream,
        windowed_severity_counts,
    )

    from conftest import make_conv

    from mariadb_to_graylog_spark.operators.errorlog import parse_error_log_lines

    # an invalid calendar date is no entry start; an indented one is
    edge = make_conv(spark, [
        "2019-13-40 10:00:00 1 [Note] invalid calendar date",
        "   2019-11-01 16:10:48 0 [Warning] indented entry start",
        "201030 12:40:21 [ERROR] format 2 start",
    ])
    data = transcripts.union(edge)
    src = str(tmp_path / "src2")
    data.write.parquet(src)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=100)
    agg = windowed_severity_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sevcounts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    key = lambda r: (r.window.start, r.window.end, r.severity, r.n)  # noqa: E731
    got = sorted(map(key, spark.sql("SELECT * FROM sevcounts").collect()))
    expected = sorted(map(key, (
        parse_error_log_lines(data)
        .filter("is_entry_start")
        .groupBy(F.window("ts", "5 minutes"), "severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )))
    assert got == expected and sum(r[3] for r in got) > 0


def test_quality_threshold_sweep_monotone(spark):
    """r5 verdict ask #6: the threshold sweep is decision-support -- as the
    cutoff t rises, kept docs and kept tokens must be non-increasing, the
    t=0 row must equal the whole-corpus totals, and every rate must stay
    in [0, 1]."""
    import mariadb_to_graylog_spark.entry_queries as eq

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        eq.ALL_QUERIES["quality_threshold_sweep"](spark, sf).collect(),
        key=lambda r: r.threshold,
    )
    assert rows, "sweep returned no rows"
    # lowest threshold keeps everything
    total = eq.docs_with_exact_dups(spark, sf).count()
    assert rows[0].n_docs_kept == total
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs_kept <= prev.n_docs_kept
        assert cur.kept_tokens <= prev.kept_tokens
    for r in rows:
        assert 0.0 <= r.dup_rate_kept <= 1.0
        assert 0.0 <= r.en_share_kept <= 1.0


def test_contamination_coverage_union_and_clean_docs(spark):
    """Coverage counts exactly the unioned leaked spans: a doc embedding
    a 20-token eval item reports 20 contaminated tokens; overlapping
    spans from TWO eval items count once (interval union); clean and
    too-short docs appear with 0.0; string ids survive."""
    from mariadb_to_graylog_spark.operators.decontam import contamination_coverage

    w = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            ("doc/full", "pre one two " + " ".join(w[0:20]) + " post"),
            ("doc/union", " ".join(w)),  # ev-1 covers 0..19, ev-2 covers 10..29
            ("doc/clean", "totally clean text " * 8),
            ("doc/short", "w0 w1 w2"),
        ],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame(
        [("ev-1", " ".join(w[0:20])), ("ev-2", " ".join(w[10:30]))],
        "doc_id string, text string",
    )
    out = contamination_coverage(docs, ev, n=13)
    assert dict(out.dtypes)["doc_id"] == "string"
    rows = {r.doc_id: (r.n_tokens, r.contaminated_tokens, r.contamination)
            for r in out.collect()}
    assert rows["doc/full"] == (24, 20, round(20 / 24, 6))
    # union counts the overlap once: 30 covered tokens, not 40
    assert rows["doc/union"] == (30, 30, 1.0)
    assert rows["doc/clean"][1:] == (0, 0.0)
    assert rows["doc/short"][1:] == (0, 0.0)
    assert len(rows) == 4


def test_trim_contaminated_runs_surgical(spark):
    """The planted eval span is removed exactly (surrounding text kept
    in order); an eval-identical doc husks to empty; clean docs keep
    their normalized text; removed + kept == total."""
    from mariadb_to_graylog_spark.operators.decontam import trim_contaminated_runs

    w = [f"w{i}" for i in range(20)]
    eval_item = " ".join(w)
    docs = spark.createDataFrame(
        [
            ("doc/full", "pre one two " + eval_item + " post"),
            ("doc/exact", eval_item),
            ("doc/clean", "Totally  Clean text here"),
        ],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame([("e1", eval_item)], "doc_id string, text string")
    rows = {r.doc_id: r for r in trim_contaminated_runs(docs, ev, n=13).collect()}
    assert rows["doc/full"].trimmed_text == "pre one two post"
    assert rows["doc/full"].n_tokens == 24
    assert rows["doc/full"].n_tokens_removed == 20
    assert rows["doc/exact"].trimmed_text == ""
    assert rows["doc/exact"].n_tokens_removed == 20
    # normalized (lowercased, whitespace-collapsed), untouched
    assert rows["doc/clean"].trimmed_text == "totally clean text here"
    assert rows["doc/clean"].n_tokens_removed == 0


def test_contamination_coverage_null_id_policy(spark):
    """NULL doc ids follow the loud null-id policy on both new ops:
    default raises map-side, on_null_id='drop' filters."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mariadb_to_graylog_spark.operators.decontam import (
        contamination_coverage,
        trim_contaminated_runs,
    )

    ev_item = " ".join(f"w{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(None, ev_item), ("ok", ev_item)], "doc_id string, text string"
    )
    ev = spark.createDataFrame([("e1", ev_item)], "doc_id string, text string")
    for fn in (contamination_coverage, trim_contaminated_runs):
        with pytest.raises(SparkRuntimeException, match="NULL 'doc_id'"):
            fn(docs, ev, n=13).collect()
        kept = fn(docs, ev, n=13, on_null_id="drop").collect()
        assert [r.doc_id for r in kept] == ["ok"]


def test_contamination_coverage_agrees_with_brute_force(spark):
    """Small-vocab corpus (accidental runs everywhere) cross-checked
    against a pure-Python reference: per-doc covered positions = union of
    [pos, pos+n-1] over doc grams present in the eval gram set -- the
    geometry (nested/overlapping/adjacent runs) hand goldens miss."""
    import random

    from mariadb_to_graylog_spark.operators.decontam import (
        contamination_coverage,
        trim_contaminated_runs,
    )

    rng = random.Random(42)
    vocab = ["a", "b", "c"]
    n = 4
    docs_py = {
        i: [rng.choice(vocab) for _ in range(rng.randint(1, 30))] for i in range(30)
    }
    ev_py = {j: [rng.choice(vocab) for _ in range(rng.randint(4, 12))]
             for j in (100, 101)}
    ev_grams = {
        tuple(t[k:k + n])
        for t in ev_py.values()
        for k in range(len(t) - n + 1)
    }
    expect_cov, expect_trim = {}, {}
    for i, t in docs_py.items():
        covered = set()
        for k in range(len(t) - n + 1):
            if tuple(t[k:k + n]) in ev_grams:
                covered.update(range(k, k + n))
        expect_cov[i] = (len(t), len(covered))
        expect_trim[i] = " ".join(
            tok for k, tok in enumerate(t) if k not in covered
        )
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs_py.items()], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(j, " ".join(t)) for j, t in ev_py.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.contaminated_tokens)
        for r in contamination_coverage(docs, ev, n=n).collect()
    }
    assert got == expect_cov
    got_trim = {
        r.doc_id: r.trimmed_text
        for r in trim_contaminated_runs(docs, ev, n=n).collect()
    }
    assert got_trim == expect_trim


def test_contamination_trim_udf_matches_batch(spark):
    """The streaming trim UDF is bit-identical to trim_contaminated_runs
    on the same rows -- including the small-vocab accidental-run geometry
    (nested/overlapping spans), not just planted passages."""
    import random

    from mariadb_to_graylog_spark.operators.decontam import (
        contamination_trim_udf,
        eval_gram_set,
        trim_contaminated_runs,
    )

    rng = random.Random(7)
    vocab = ["a", "b", "c"]
    n = 4
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
         for i in range(40)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(j, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 12))))
         for j in (100, 101)],
        "doc_id long, text string",
    )
    batch = {
        r.doc_id: (r.trimmed_text, r.n_tokens, r.n_tokens_removed)
        for r in trim_contaminated_runs(docs, ev, n=n).collect()
    }
    udf = contamination_trim_udf(eval_gram_set(ev, n=n, full_md5=True), n=n)
    got = {
        r.doc_id: (r.t.trimmed_text, r.t.n_tokens, r.t.n_tokens_removed)
        for r in docs.select("doc_id", udf("text").alias("t")).collect()
    }
    assert got == batch


def test_contamination_trim_udf_guards(spark):
    """Destructive-path guards: h32-long hash sets rejected; a flag-udf
    broadcast handle (2-tuple, longs) rejected; an n-mismatched trim
    handle rejected; a matching handle is reused as-is."""
    import pytest

    from mariadb_to_graylog_spark.operators.decontam import (
        contamination_flag_udf,
        contamination_trim_udf,
    )

    with pytest.raises(ValueError, match="full md5 hex digests"):
        contamination_trim_udf({123456}, n=4)
    with pytest.raises(ValueError, match="exactly one of"):
        contamination_trim_udf(None, n=4, eval_broadcast=None)

    flag = contamination_flag_udf({1, 2}, n=4)
    with pytest.raises(ValueError, match="h32 longs"):
        contamination_trim_udf(eval_broadcast=flag.eval_broadcast, n=4)

    trim = contamination_trim_udf({"a" * 32}, n=4)
    with pytest.raises(ValueError, match="built for n=4"):
        contamination_trim_udf(eval_broadcast=trim.eval_broadcast, n=5)
    reused = contamination_trim_udf(eval_broadcast=trim.eval_broadcast, n=4)
    assert reused.eval_broadcast is trim.eval_broadcast


def test_contamination_coverage_bucketed_equals_broadcast(spark):
    """pin_broadcast=False (distributed gram semi-join -- the
    shard-vs-shard 100 TB path with no driver collect and no broadcast
    pin) returns IDENTICAL rows to the broadcast default."""
    import random

    from mariadb_to_graylog_spark.operators.decontam import contamination_coverage

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
         for i in range(30)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(j, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 10))))
         for j in (100, 101)],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in contamination_coverage(docs, ev, n=4).collect())
    b = sorted(
        tuple(r)
        for r in contamination_coverage(docs, ev, n=4, pin_broadcast=False).collect()
    )
    assert a == b


def test_gram_novelty_trend_planted(spark):
    """Batch 0 is fully novel; a batch-1 doc REPEATING batch-0 text
    contributes zero novel grams; a batch-1 doc with fresh text is
    counted novel; a batch with nothing but short (gram-less) docs gets
    no row."""
    from mariadb_to_graylog_spark.operators.dedup import gram_novelty_trend

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh = "one two three four five six seven eight nine ten"
    rows = [
        (0, base),
        (1, base),          # verbatim re-crawl: nothing novel
        (1, fresh),         # genuinely new source
        (2, "too short"),   # no 8-gram window -> batch 2 absent
    ]
    df = spark.createDataFrame(rows, "batch int, text string")
    out = {r["batch"]: r for r in gram_novelty_trend(df, n=8).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_novel"] == out[0]["n_grams"] == 3  # 10 toks -> 3 grams
    assert out[0]["novelty"] == 1.0
    assert out[1]["n_grams"] == 6  # 3 repeated + 3 fresh distinct grams
    assert out[1]["n_novel"] == 3  # only the fresh doc's grams
    assert out[1]["novelty"] == 0.5


def test_sampled_dedup_rate_full_sample_is_exact(spark):
    """sample_buckets == buckets degrades to the EXACT distinct count,
    and occurrences are the exact arithmetic total."""
    from mariadb_to_graylog_spark.operators.dedup import sampled_dedup_rate
    from mariadb_to_graylog_spark.operators.decontam import word_ngram_hashes

    import random

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
         for i in range(40)],
        "doc_id long, text string",
    )
    row = sampled_dedup_rate(docs, n=4, buckets=8, sample_buckets=8).collect()[0]
    exact_distinct = (
        docs.select(F.explode(word_ngram_hashes(F.col("text"), 4)).alias("h"))
        .select("h").distinct().count()
    )
    exact_occ = sum(
        max(len(r.text.split(" ")) - 3, 0) for r in docs.collect()
    )
    assert row["n_gram_occurrences"] == exact_occ
    assert row["est_distinct_grams"] == exact_distinct
    assert row["dup_rate_est"] == round(1 - exact_distinct / exact_occ, 6)


def test_sampled_dedup_rate_sampling_and_guards(spark):
    """A 1-of-4 sample is deterministic across runs, only counts grams in
    the sampled hash buckets, and the argument guards raise."""
    from mariadb_to_graylog_spark.operators.dedup import sampled_dedup_rate

    docs = spark.createDataFrame(
        [(i, f"w{i} x y z q r s t u v") for i in range(25)],
        "doc_id long, text string",
    )
    a = sampled_dedup_rate(docs, n=4, buckets=4, sample_buckets=1).collect()[0]
    b = sampled_dedup_rate(docs, n=4, buckets=4, sample_buckets=1).collect()[0]
    assert tuple(a) == tuple(b)
    full = sampled_dedup_rate(docs, n=4, buckets=4, sample_buckets=4).collect()[0]
    assert a["n_sampled_distinct"] <= full["n_sampled_distinct"]
    assert a["est_distinct_grams"] == a["n_sampled_distinct"] * 4
    with pytest.raises(ValueError, match="sample_buckets"):
        sampled_dedup_rate(docs, sample_buckets=0)
    with pytest.raises(ValueError, match="multiple"):
        sampled_dedup_rate(docs, buckets=10, sample_buckets=3)


def test_sampled_dedup_rate_empty_corpus(spark):
    """Gram-less corpus: zero occurrences, NULL dup-rate (not a crash or
    a divide-by-zero under ANSI)."""
    from mariadb_to_graylog_spark.operators.dedup import sampled_dedup_rate

    docs = spark.createDataFrame([(1, "too short")], "doc_id long, text string")
    row = sampled_dedup_rate(docs, n=8).collect()[0]
    assert row["n_gram_occurrences"] == 0
    assert row["est_distinct_grams"] == 0
    assert row["dup_rate_est"] is None


def test_extents_coverage_consistency(spark):
    """Cross-operator invariant: the per-doc interval UNION of
    contamination_extents' per-alignment runs must equal
    contamination_coverage's contaminated_tokens on every doc -- the two
    views of the same gram matches may never disagree."""
    import random

    from mariadb_to_graylog_spark.operators.decontam import (
        contamination_coverage,
        contamination_extents,
    )

    rng = random.Random(23)
    vocab = ["a", "b", "c", "d"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
         for i in range(40)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(j, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 12))))
         for j in (900, 901)],
        "doc_id long, text string",
    )
    cov = {
        r["doc_id"]: r["contaminated_tokens"]
        for r in contamination_coverage(docs, ev, n=4).collect()
    }
    spans = {}
    for r in contamination_extents(docs, ev, n=4).collect():
        spans.setdefault(r["doc_id"], set()).update(
            range(r["doc_start"], r["doc_end"] + 1)
        )
    for doc_id, covered in cov.items():
        assert covered == len(spans.get(doc_id, set())), doc_id


def test_sampled_dedup_rate_clamped_nonnegative(spark):
    """Between-bucket variance can scale the distinct estimate above the
    exact occurrence total on an all-distinct corpus; the decision
    metric must clamp at 0, never report a negative saving.  The corpus
    is CONSTRUCTED to overshoot: every doc carries one unique gram, all
    chosen (via the same md5-derived h32 the operator uses) to land in
    sampled bucket 0 of 2, so est = 2 x distinct > occurrences."""
    import hashlib

    from mariadb_to_graylog_spark.operators.dedup import sampled_dedup_rate

    def h32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    texts = []
    i = 0
    while len(texts) < 12:
        t = f"tok{i} alpha beta gamma"  # exactly one 4-gram = the text
        if h32_py(t) % 2 == 0:
            texts.append(t)
        i += 1
    docs = spark.createDataFrame(
        [(j, t) for j, t in enumerate(texts)], "doc_id long, text string"
    )
    row = sampled_dedup_rate(docs, n=4, buckets=2, sample_buckets=1).collect()[0]
    assert row["n_gram_occurrences"] == 12
    assert row["n_sampled_distinct"] == 12
    assert row["est_distinct_grams"] == 24  # overshoots the 12 occurrences
    assert row["dup_rate_est"] == 0.0  # clamped, not -1.0


def test_curate_trim_broadcast_handle_reuse(spark):
    """Passing a previous trim udf's eval_broadcast as trim_hashes must
    produce IDENTICAL decisions to passing the raw set (the plan-rebuild
    path that avoids re-shipping the full-md5 set), and a flag-udf
    handle must be rejected loudly downstream."""
    from mariadb_to_graylog_spark.operators.decontam import (
        contamination_flag_udf,
        contamination_trim_udf,
        eval_gram_set,
    )
    from mariadb_to_graylog_spark.streaming.curation_stream import curate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated clean document text here now ok"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(9, "quick brown fox jumps")], "doc_id long, text string"
    )
    hashes = eval_gram_set(ev, n=4, full_md5=True)
    flag_hashes = eval_gram_set(ev, n=4)
    u = contamination_trim_udf(hashes, n=4)
    try:
        via_set = sorted(
            (r["doc_id"], r["decision"], r["text"])
            for r in curate(docs, flag_hashes, n=4, trim_hashes=hashes).collect()
        )
        via_handle = sorted(
            (r["doc_id"], r["decision"], r["text"])
            for r in curate(
                docs, flag_hashes, n=4, trim_hashes=u.eval_broadcast
            ).collect()
        )
        assert via_set == via_handle
        flag_udf = contamination_flag_udf(flag_hashes, n=4)
        with pytest.raises(ValueError, match="contamination_flag_udf handle"):
            curate(docs, flag_hashes, n=4, trim_hashes=flag_udf.eval_broadcast)
    finally:
        u.eval_broadcast.unpersist()


def test_unigram_surprisal_golden(spark):
    """Hand-computed micro-nat golden: corpus 'a a a b' + 'z q', top_v=1
    -> vocab = {a: 3 of N=6}; b/z/q are OOV at the 1/N floor.
    surprisal(doc1) = (3*round(ln2*1e6) + round(ln6*1e6)) / 4e6."""
    import math

    from mariadb_to_graylog_spark.operators import textstats as tx

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "z q"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.unigram_surprisal(docs, top_v=1).collect()}
    m_a = round(math.log(2) * 1e6)     # ln6 - ln3
    m_oov = round(math.log(6) * 1e6)
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 1
    assert out[1]["surprisal"] == round((3 * m_a + m_oov) / 4e6, 6)
    assert out[2]["n_tokens"] == 2 and out[2]["n_oov"] == 2
    assert out[2]["surprisal"] == round(2 * m_oov / 2e6, 6)
    assert out[3]["n_tokens"] == 0 and out[3]["surprisal"] is None


def test_unigram_surprisal_separates_gibberish_from_template(spark):
    """The quality-gate property: an OCR-garbage doc (every token
    corpus-unique) must out-score a template doc (all head tokens),
    with the template doc scoring LOWEST in the corpus."""
    from mariadb_to_graylog_spark.operators import textstats as tx

    rows = [(i, "the cat sat on the mat again and again today") for i in range(10)]
    rows.append((100, "qzx vbn wkj plm tyu ghf dsa mnb poi lkj"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["surprisal"]
           for r in tx.unigram_surprisal(docs, top_v=16).collect()}
    assert out[100] > out[0]
    assert min(out.values()) == out[0]


def test_incremental_dedup_planted_decisions(spark):
    """Every planted exact copy whose original stayed in the corpus must
    come back 'duplicate'; decisions are exactly the three lanes; every
    new-batch doc gets exactly one row."""
    from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES

    rows = ALL_QUERIES["incremental_dedup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(by_id) == len(rows)  # one row per new doc
    assert {r["decision"] for r in rows} <= {"duplicate", "overlap", "kept"}
    dup_ids = [i for i in by_id if i >= 100000]
    assert dup_ids
    for i in dup_ids:
        orig = i - 100000
        if orig % 7 != 3:  # original is in the corpus side
            assert by_id[i]["exact_dup"] and by_id[i]["decision"] == "duplicate", i
    # flag consistency: duplicate implies gram overlap too (same text)
    for r in rows:
        if r["exact_dup"]:
            assert r["shares_gram"] or r["decision"] == "duplicate"


def test_pack_sequences_stream_invariants(spark, docs):
    from mariadb_to_graylog_spark.operators.mixing import pack_sequences

    out = pack_sequences(docs, seq_len=256, shards=4, salt="pack1").collect()
    assert len(out) == docs.count()  # every doc gets a position
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= set(range(4))
    for shard, rows in by_shard.items():
        total = sum(r["n_tokens"] for r in rows)
        # the stream is gapless: the furthest doc end equals the token sum
        assert max(r["stream_offset"] + r["n_tokens"] for r in rows) == total
        assert min(r["stream_offset"] for r in rows) == 0
        for r in rows:
            span = max(r["n_tokens"], 1)
            assert r["seq_start"] == r["stream_offset"] // 256
            assert r["seq_end"] == (r["stream_offset"] + span - 1) // 256
            assert r["seqs_spanned"] == r["seq_end"] - r["seq_start"] + 1


def test_pack_sequences_single_shard_matches_manual_order(spark):
    """shards=1: offsets must equal the running sum over the md5-hash
    order -- the hash order IS the epoch shuffle, so pin it exactly."""
    import hashlib

    from mariadb_to_graylog_spark.operators.mixing import pack_sequences

    rows = [(1, "a b c"), (2, "d e"), (3, "f g h i"), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           pack_sequences(docs, seq_len=4, shards=1, salt="s").collect()}
    hkey = {i: int(hashlib.md5(f"{i}s".encode()).hexdigest()[:8], 16)
            for i, _ in rows}
    order = sorted(hkey, key=lambda i: (hkey[i], i))
    ntok = {1: 3, 2: 2, 3: 4, 4: 0}
    off = 0
    for i in order:
        assert out[i]["stream_offset"] == off, i
        off += ntok[i]


def test_pack_sequences_salt_changes_epoch_order(spark, docs):
    from mariadb_to_graylog_spark.operators.mixing import pack_sequences

    a = {r["doc_id"]: (r["shard"], r["stream_offset"])
         for r in pack_sequences(docs, salt="ep0").collect()}
    b = {r["doc_id"]: (r["shard"], r["stream_offset"])
         for r in pack_sequences(docs, salt="ep1").collect()}
    assert a != b  # independent epoch shuffles


def test_temperature_mixture_flattens_head(spark):
    """One giant source + small tails: sqrt temperature must give the
    giant LESS than its proportional share and the tails MORE."""
    from mariadb_to_graylog_spark.operators.mixing import temperature_mixture

    rows = [(i, "tok " * 100, "giant") for i in range(90)]
    rows += [(1000 + i, "tok " * 100, "tail_a") for i in range(5)]
    rows += [(2000 + i, "tok " * 100, "tail_b") for i in range(5)]
    docs = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows], "doc_id long, text string, source string"
    )
    out = {r["source"]: r for r in temperature_mixture(docs, 5000).collect()}
    tot_tokens = sum(r["n_tokens"] for r in out.values())
    giant_share = out["giant"]["n_tokens"] / tot_tokens
    assert out["giant"]["weight"] < giant_share
    assert out["tail_a"]["weight"] > out["tail_a"]["n_tokens"] / tot_tokens
    # tails keep a HIGHER fraction of themselves than the giant does
    assert out["tail_a"]["rate_ppm"] > out["giant"]["rate_ppm"]
    # budget conservation up to per-source floor loss
    target_sum = sum(r["target_tokens"] for r in out.values())
    assert 5000 - len(out) <= target_sum <= 5000
    for r in out.values():
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert r["kept_tokens"] <= r["n_tokens"]


def test_temperature_mixture_budget_exceeds_corpus_keeps_all(spark, docs):
    from mariadb_to_graylog_spark.operators.mixing import temperature_mixture

    out = temperature_mixture(docs, 10_000_000).collect()
    for r in out:
        assert r["rate_ppm"] == 1_000_000, r["source"]
        assert r["n_kept"] == r["n_docs"]
        assert r["kept_tokens"] == r["n_tokens"]
        assert r["target_tokens"] >= r["n_tokens"]  # oversubscribed -> repeat


def test_temperature_sample_filter_deterministic(spark, docs):
    from mariadb_to_graylog_spark.operators.mixing import (
        temperature_sample_filter,
    )

    kept1 = {r["doc_id"] for r in docs.filter(
        temperature_sample_filter(F.col("doc_id"), F.lit(300000), "s1")).collect()}
    kept2 = {r["doc_id"] for r in docs.filter(
        temperature_sample_filter(F.col("doc_id"), F.lit(300000), "s1")).collect()}
    kept3 = {r["doc_id"] for r in docs.filter(
        temperature_sample_filter(F.col("doc_id"), F.lit(300000), "s2")).collect()}
    assert kept1 == kept2
    assert kept1 != kept3  # different salt -> independent draw


def test_near_dedup_keep_best_prefers_quality(spark):
    """Two near-dup clusters with a clearly-better member each: keep-best
    must keep the high-quality variant, while plain keep-one (lowest id)
    would keep the other; singletons always survive."""
    from mariadb_to_graylog_spark.operators.dedup import (
        near_dedup_keep_best,
        ngram_jaccard_pairs,
    )
    from mariadb_to_graylog_spark.operators.textstats import quality_score

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green hills today")
    rows = [
        (1, base + " !!!,,,;;;:::!!!,,,;;;:::"),   # punct-heavy variant
        (2, base),                                  # clean variant (better)
        (10, "completely unrelated text about spark shuffles and joins"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    out = {r["doc_id"]: r for r in
           near_dedup_keep_best(docs, pairs, quality_score(F.col("text"))).collect()}
    assert out[1]["group_id"] == out[2]["group_id"] == 1
    assert out[2]["keep"] and not out[1]["keep"]  # quality beats lowest-id
    assert out[10]["keep"]  # singleton
    # exactly one survivor per group
    kept_per_group: dict[int, int] = {}
    for r in out.values():
        kept_per_group[r["group_id"]] = kept_per_group.get(r["group_id"], 0) + int(r["keep"])
    assert all(v == 1 for v in kept_per_group.values())


def test_dup_cluster_histogram_counts(spark):
    from mariadb_to_graylog_spark.operators.dedup import (
        dup_cluster_histogram,
        exact_dedup,
    )

    rows = [(i, f"text {i % 4}") for i in range(10)]  # sizes 3,3,2,2
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _, groups = exact_dedup(docs)
    hist = {r["cluster_size"]: r for r in dup_cluster_histogram(groups).collect()}
    assert hist[3]["n_clusters"] == 2 and hist[3]["excess_docs"] == 4
    assert hist[2]["n_clusters"] == 2 and hist[2]["excess_docs"] == 2
    assert sum(r["n_clusters"] * k for k, r in hist.items()) == 10


def test_semantic_dedup_drops_planted_copies(spark, embeds):
    """Exact re-encoded copies land in the SAME cluster (identical
    argmax) and must be pruned (keep=false) while their originals
    survive; keeps are deterministic across runs."""
    from mariadb_to_graylog_spark.operators.similarity import semantic_dedup

    dups = embeds.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    both = embeds.select("vec_id", "embedding").unionByName(dups)
    out = {r["vec_id"]: r for r in
           semantic_dedup(both, k=4, iters=2, threshold=0.95).collect()}
    planted = [i for i in out if i >= 100000]
    assert planted
    for i in planted:
        orig = i - 100000
        assert out[i]["bucket"] == out[orig]["bucket"], i
        assert not out[i]["keep"], i  # a lower-id identical vector exists
    # the lowest id of every bucket can have no lower-id neighbor: keeps
    lowest = {}
    for i, r in out.items():
        if r["bucket"] not in lowest or i < lowest[r["bucket"]]:
            lowest[r["bucket"]] = i
    for b, i in lowest.items():
        assert out[i]["keep"], (b, i)
    # second run identical (deterministic training + pruning)
    out2 = {r["vec_id"]: (r["bucket"], r["keep"]) for r in
            semantic_dedup(both, k=4, iters=2, threshold=0.95).collect()}
    assert out2 == {i: (r["bucket"], r["keep"]) for i, r in out.items()}


def test_training_manifest_composes_mixture_and_packing(spark):
    """The epoch manifest: exactly the temperature-kept docs appear, and
    each shard's packed stream is gapless over that subset."""
    from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES

    out = ALL_QUERIES["training_manifest"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < len(out) < 500  # a strict, non-empty subset was sampled
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        total = sum(r["n_tokens"] for r in rows)
        assert max(r["stream_offset"] + r["n_tokens"] for r in rows) == total
        assert min(r["stream_offset"] for r in rows) == 0


def test_pq_identical_vectors_identical_codes(spark, embeds):
    from mariadb_to_graylog_spark.operators.similarity import (
        pq_encode,
        train_pq,
    )

    dups = embeds.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    both = embeds.select("vec_id", "embedding").unionByName(dups)
    books = train_pq(both, m=4, ksub=4, iters=1, dim=64)
    assert len(books) == 4 and all(len(b) <= 4 for b in books)
    codes = {r["vec_id"]: tuple(r[f"code_{j}"] for j in range(4))
             for r in pq_encode(both, books, dim=64).collect()}
    for i in codes:
        if i >= 100000:
            assert codes[i] == codes[i - 100000], i
    # every code is a real codebook id
    for j in range(4):
        valid = {cid for cid, _ in books[j]}
        assert {c[j] for c in codes.values()} <= valid


def test_pq_rerank_recall_dominates_raw_adc(spark, embeds):
    """The two-stage path must be deterministic and at least as good as
    raw ADC against brute force (it re-scores a superset with the exact
    metric); identical reruns must match exactly."""
    from collections import defaultdict

    from mariadb_to_graylog_spark.operators.similarity import (
        knn_bruteforce,
        pq_adc_topk,
        train_pq,
    )

    e = embeds.select("vec_id", "embedding")
    brute = defaultdict(set)
    for r in knn_bruteforce(e, F.col("vec_id") < 5, k=3).collect():
        brute[r["query_id"]].add(r["neighbor_id"])
    books = train_pq(e, m=4, ksub=8, iters=2, dim=64)

    def recall(rerank):
        got = defaultdict(set)
        for r in pq_adc_topk(e, F.col("vec_id") < 5, books, dim=64, k=3,
                             rerank=rerank).collect():
            got[r["query_id"]].add(r["neighbor_id"])
        return sum(len(got[q] & brute[q]) / max(len(brute[q]), 1)
                   for q in brute) / max(len(brute), 1), got

    raw, _ = recall(0)
    two_stage, got1 = recall(40)
    assert two_stage >= raw
    _, got2 = recall(40)
    assert got1 == got2  # deterministic end-to-end


def test_token_fertility_dominance(spark):
    """BPE-ish pre-tokenization only ever SPLITS a whitespace token
    (mixed alnum runs split at letter/digit boundaries; symbol runs add
    tokens), so per-language bpe_tokens >= ws_tokens and fertility >= 1."""
    from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES

    rows = ALL_QUERIES["token_fertility"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["bpe_tokens"] >= r["ws_tokens"], r["lang"]
        assert r["fertility"] >= 1.0, r["lang"]


def test_key_skew_stats_ranks_heavy_hitters(spark):
    from mariadb_to_graylog_spark.operators.textstats import key_skew_stats

    rows = [(i, "hot") for i in range(80)]
    rows += [(1000 + i, f"k{i % 4}") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, k string")
    out = sorted(key_skew_stats(df, "k", top_n=3).collect(),
                 key=lambda r: r["rank"])
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["key"] == "hot" and out[0]["cnt"] == 80
    assert out[0]["share_ppm"] == 800_000  # exact integer ppm
    assert out[1]["cnt"] == 5 and out[1]["key"] == "k0"  # tie -> lexical


def test_ivfpq_probe_discipline_and_rerank_dominance(spark, embeds):
    """IVF-PQ invariants: (a) every returned neighbor lives in one of the
    query's nprobe probed coarse buckets (the inverted-list contract);
    (b) the exact-cosine rerank of the shortlist is at least as good
    against brute force as raw residual-ADC over the same probe pool
    (re-scoring a superset with the exact metric); (c) end-to-end
    determinism across runs."""
    from collections import defaultdict

    from mariadb_to_graylog_spark.operators.similarity import (
        assign_buckets_local,
        knn_bruteforce,
        knn_ivfpq,
        probe_buckets_local,
        train_kmeans,
    )

    e = embeds.select("vec_id", "embedding")
    kw = dict(n_coarse=8, coarse_iters=2, m=4, ksub=8, pq_iters=2,
              dim=64, k=3, nprobe=2)
    qf = F.col("vec_id") < 5

    brute = defaultdict(set)
    for r in knn_bruteforce(e, qf, k=3).collect():
        brute[r["query_id"]].add(r["neighbor_id"])

    def recall(rows):
        got = defaultdict(set)
        for r in rows:
            got[r["query_id"]].add(r["neighbor_id"])
        return sum(len(got[q] & brute[q]) / max(len(brute[q]), 1)
                   for q in brute) / max(len(brute), 1)

    raw = knn_ivfpq(e, qf, rerank=0, **kw).collect()
    two1 = knn_ivfpq(e, qf, rerank=40, **kw).collect()
    two2 = knn_ivfpq(e, qf, rerank=40, **kw).collect()
    assert sorted(map(tuple, two1)) == sorted(map(tuple, two2))
    assert recall(two1) >= recall(raw)

    # probe discipline: the trainer is deterministic, so re-deriving the
    # coarse index here yields the exact buckets the query ran with
    cents = train_kmeans(e, k=8, iters=2, dim=64)
    bucket_of = {r["vec_id"]: r["bucket"]
                 for r in assign_buckets_local(e, cents).collect()}
    probes = {r["vec_id"]: set(r["p"]) for r in e.filter(qf).select(
        "vec_id", probe_buckets_local(cents, "embedding", 2).alias("p")
    ).collect()}
    for r in raw:
        assert bucket_of[r["neighbor_id"]] in probes[r["query_id"]], r


def test_corpus_accounting_conservation(spark):
    """The three lanes partition the corpus exactly: dup excess +
    low-quality keepers + effective == totals, for docs AND tokens;
    the planted exact dups guarantee nonzero excess."""
    from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES

    r = ALL_QUERIES["corpus_accounting"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert (r["dup_excess_docs"] + r["low_quality_docs"]
            + r["effective_docs"]) == r["n_docs"]
    assert (r["dup_excess_tokens"] + r["low_quality_tokens"]
            + r["effective_tokens"]) == r["n_tokens"]
    assert r["dup_excess_docs"] > 0
    assert r["effective_tokens"] > 0


def test_cluster_source_mix_conserves(spark):
    """Counts partition the joined corpus; ppm shares are floor-exact:
    per-cluster shares sum to (1e6 - rounding slack), corpus shares
    likewise, and every embedding with a matching doc is counted once."""
    from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES

    rows = ALL_QUERIES["cluster_source_mix"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    n_total = sum(r["n"] for r in rows)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    expected = e.join(
        d.withColumnRenamed("doc_id", "vec_id"), "vec_id"
    ).count()
    assert n_total == expected
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["bucket"], []).append(r)
    for b, rs in by_cluster.items():
        s = sum(r["cluster_share_ppm"] for r in rs)
        assert 1_000_000 - len(rs) < s <= 1_000_000, b
    s = sum(r["corpus_share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) < s <= 1_000_000


def test_embedding_drift_flags_planted_shift(spark):
    """A batch whose vectors all point along a planted direction must
    score LOWER cosine-to-corpus than unshifted batches; identical
    batches score ~1.0."""
    import random

    from pyspark.sql import functions as F

    from mariadb_to_graylog_spark.operators.similarity import embedding_drift

    rng = random.Random(7)
    dim = 8

    def vec(shifted):
        # noise + a strong base direction: axis 1 for the three normal
        # batches, the ORTHOGONAL axis 0 for the drifted one
        v = [rng.uniform(-0.5, 0.5) for _ in range(dim)]
        v[0 if shifted else 1] += 5.0
        return v

    rows = [(i, vec(i % 4 == 3)) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.batch: r for r in embedding_drift(df, n_batches=4, dim=dim).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert all(got[b].n_vecs == 100 for b in got)
    shifted, normal = got[3], [got[0], got[1], got[2]]
    # the orthogonal batch points away from the corpus consensus
    assert all(shifted.cos_to_corpus < n.cos_to_corpus - 0.3 for n in normal)
    # concentration is comparable (same base magnitude) -- drift shows
    # in DIRECTION, which is why the monitor reports cosine, not norm
    assert 0.5 < shifted.mean_norm / max(n.mean_norm for n in normal) < 2.0


def test_prefix_dup_planted_truncations(spark):
    """Planted truncations: the full doc and its 12-token cut share a
    10-token prefix family (n_variants=2); an exact re-crawl collapses
    to n_variants=1; unrelated docs form no family."""
    from pyspark.sql import functions as F

    from mariadb_to_graylog_spark.operators.dedup import prefix_dup_stats

    words = lambda n, tag: " ".join(f"{tag}{i % 7}tok{i}" for i in range(n))
    rows = [
        (1, words(40, "a")),                      # original
        (2, " ".join(words(40, "a").split()[:12])),  # truncated re-crawl
        (3, words(40, "b")),                      # original
        (4, words(40, "b")),                      # EXACT dup
        (5, words(40, "c")),                      # lone doc
        (6, "short doc"),                         # < k tokens: ineligible
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.min_doc_id: r for r in prefix_dup_stats(df, k_tokens=10).collect()}
    assert set(got) == {1, 3}
    assert (got[1].n_docs, got[1].n_variants) == (2, 2)  # truncation family
    assert (got[3].n_docs, got[3].n_variants) == (2, 1)  # pure exact dups


def test_padding_waste_arithmetic(spark):
    """Hand-checked packing table: doc-boundary sequences and pad tokens
    are exact integers; concat packing never needs more sequences."""
    from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES

    rows = {r.seq_len: r for r in ALL_QUERIES["padding_waste"](
        spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {64, 128, 256}
    for L, r in rows.items():
        assert r.pad_tokens == r.doc_bound_seqs * L - r.total_tokens
        assert r.concat_seqs <= r.doc_bound_seqs
        assert 0 <= r.waste_ppm < 1_000_000
    # bigger sequences waste more under doc-boundary packing (docs are
    # 10-99 tokens here, so L=256 pads most docs > 60%)
    assert rows[256].waste_ppm > rows[64].waste_ppm


def test_data_split_deterministic_and_proportional(spark):
    """Same (id, salt) -> same lane across runs; lanes partition the
    corpus; train share lands near 98%."""
    from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES

    a = sorted(map(tuple, ALL_QUERIES["data_split"](
        spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, ALL_QUERIES["data_split"](
        spark, "/root/testdata/sf0.001").collect()))
    assert a == b
    total = sum(r[2] for r in a)
    train = sum(r[2] for r in a if r[1] == "train")
    assert total == 500
    assert 0.93 <= train / total <= 1.0


def test_fuzzy_decontam_catches_edited_eval_item(spark):
    """The operator's raison d'etre: an eval item with one word EDITED
    inside every exact window is invisible to exact n-gram contamination
    but still a MinHash near-dup of the leaked doc."""
    from mariadb_to_graylog_spark.operators.decontam import (
        contamination,
        fuzzy_contamination,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "researchers carefully measure benchmark leakage across training "
        "corpora every single evening"
    )
    # the doc is 22 tokens -> every 13-gram window covers positions
    # 10..13; edit token 12 so NO window survives intact
    edited = base.replace("researchers", "scientists")
    docs = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about gardening tools")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, edited)], "eval_id long, text string")
    exact = contamination(docs, ev.withColumnRenamed("eval_id", "doc_id"), n=13)
    assert exact.filter("contaminated").count() == 0  # exact lane blind
    fuzzy = fuzzy_contamination(docs, ev)
    got = {(r.doc_id, r.eval_id) for r in fuzzy.collect()}
    assert (1, 100) in got
    assert all(d != 2 for d, _ in got)  # unrelated doc untouched


def test_fuzzy_decontam_eval_cap_enforced(spark, docs):
    from mariadb_to_graylog_spark.operators.decontam import fuzzy_contamination

    ev = docs.select(F.col("doc_id").alias("eval_id"), "text")
    with pytest.raises(ValueError, match="eval corpus must be small"):
        fuzzy_contamination(docs, ev, max_eval_rows=10)


def test_bpe_merge_candidates_hand_counts(spark):
    """'abab' x3 occurrences + 'ab' x2: pair 'ab' occurs 2*3 + 1*2 = 8
    times across 2 distinct words; 'ba' occurs 3 in 1 word."""
    from mariadb_to_graylog_spark.operators.textstats import bpe_merge_candidates

    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab x")], "doc_id long, text string"
    )
    rows = {r.pair: r for r in bpe_merge_candidates(df, top_k=10).collect()}
    assert rows["ab"].n_occurrences == 8 and rows["ab"].n_words == 2
    assert rows["ba"].n_occurrences == 3 and rows["ba"].n_words == 1
    assert rows["ab"].rank == 1
    # 1-char words ('x') contribute no pairs
    assert "x " not in rows and " x" not in rows


def test_bigram_novelty_planted_gibberish(spark):
    """A doc whose transitions nobody else makes scores ~1e6 ppm; a doc
    made of corpus-common transitions scores 0; <2-token docs surface
    with zero bigrams and NULL min_count."""
    from mariadb_to_graylog_spark.operators.textstats import bigram_novelty

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)]
    rows.append((100, "zxq vbnk wqpr zzgh mlkj"))  # gibberish
    rows.append((101, "hello"))  # 1 token
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_novelty(df, rare_max=2).collect()}
    assert len(got) == 12  # nothing silently dropped
    assert got[100].novelty_ppm == 1_000_000 and got[100].min_count == 1
    assert got[0].novelty_ppm == 0 and got[0].min_count == 10
    assert got[101].n_bigrams == 0 and got[101].min_count is None
    assert got[101].novelty_ppm is None


def test_lsh_planner_scurve_ordering(spark, docs):
    """Fixed k = bands*rows: steeper bandings (more rows/band) shift the
    S-curve right -- s50 rises with rows_per_band and expected detection
    falls (weakly) for BOTH populations; grid entries with b*r != k must
    raise."""
    from mariadb_to_graylog_spark.operators.dedup import lsh_banding_planner

    near = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" xyz")).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        ).select(docs.columns)
    )
    out = sorted(
        lsh_banding_planner(near.select("doc_id", "text")).collect(),
        key=lambda r: r.rows_per_band,
    )
    assert [(r.bands, r.rows_per_band) for r in out] == [
        (16, 2), (8, 4), (4, 8), (2, 16)
    ]
    s50 = [r.s50_ppm for r in out]
    assert s50 == sorted(s50) and s50[0] < s50[-1]
    hi = [r.exp_detect_hi_ppm for r in out if r.exp_detect_hi_ppm is not None]
    assert hi == sorted(hi, reverse=True)
    with pytest.raises(ValueError, match="does not multiply"):
        lsh_banding_planner(near, grid=((3, 5),)).collect()


def test_vocab_coverage_hand_counts(spark):
    """3 words: 'a' x4, 'b' x2, 'c' x1 -> at t=2: 2 words cover 6/7."""
    from mariadb_to_graylog_spark.operators.textstats import vocab_coverage

    df = spark.createDataFrame([(1, "a a b c"), (2, "a a b")], "doc_id long, text string")
    got = {r.min_count: r for r in vocab_coverage(df, thresholds=(1, 2, 4)).collect()}
    assert got[1].n_words == 3 and got[1].coverage_ppm == 1_000_000
    assert got[2].n_words == 2 and got[2].n_occurrences == 6
    assert got[2].coverage_ppm == 857142  # floor(6e6/7)
    assert got[4].n_words == 1 and got[4].n_occurrences == 4
    assert got[1].vocab_share_ppm == 1_000_000
    # coverage monotone non-increasing in the threshold
    cov = [got[t].coverage_ppm for t in (1, 2, 4)]
    assert cov == sorted(cov, reverse=True)


def test_semantic_decontam_catches_scaled_paraphrase(spark, embeds):
    """The operator's raison d'etre: an eval item whose embedding is a
    positive-scaled copy of a training doc's (cosine exactly 1, zero
    shared surface text) is invisible to both exact-n-gram and MinHash
    lanes but MUST be flagged here -- positive scaling preserves every
    SRP sign bit, so recall on the planted leaks is deterministic 100%."""
    from mariadb_to_graylog_spark.operators.decontam import semantic_contamination

    ev = embeds.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 70000).alias("eval_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 3).alias(
            "embedding"
        ),
    )
    planted = {
        (r.vec_id, r.vec_id + 70000)
        for r in embeds.filter(F.col("vec_id") % 9 == 0).collect()
    }
    got = {
        (r.vec_id, r.eval_id)
        for r in semantic_contamination(embeds, ev, dim=64, threshold=0.999).collect()
    }
    assert planted <= got
    # every reported pair really is above threshold (verify step honest)
    full = semantic_contamination(embeds, ev, dim=64, threshold=0.999).collect()
    assert all(r.cos_sim >= 0.999 for r in full)


def test_semantic_decontam_bucketed_equals_broadcast(spark, embeds):
    """pin_broadcast=False (distributed shard-vs-shard bucket join, the
    past-broadcast-size escape hatch) returns the identical pair set."""
    from mariadb_to_graylog_spark.operators.decontam import semantic_contamination

    ev = embeds.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 70000).alias("eval_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 2).alias(
            "embedding"
        ),
    )
    a = {
        (r.vec_id, r.eval_id, r.cos_sim)
        for r in semantic_contamination(
            embeds, ev, dim=64, threshold=0.97, pin_broadcast=True
        ).collect()
    }
    b = {
        (r.vec_id, r.eval_id, r.cos_sim)
        for r in semantic_contamination(
            embeds, ev, dim=64, threshold=0.97, pin_broadcast=False
        ).collect()
    }
    assert a == b and a


def test_semantic_decontam_eval_cap_and_plan(spark, embeds):
    """Eval-row cap raises loudly; the default plan is a broadcast hash
    join on the SRP band keys with NO cartesian/nested-loop join and NO
    corpus-side exchange before the join (documents never shuffle)."""
    from mariadb_to_graylog_spark.operators.decontam import semantic_contamination

    ev = embeds.select(F.col("vec_id").alias("eval_id"), "embedding")
    with pytest.raises(ValueError, match="eval corpus must be small"):
        semantic_contamination(embeds, ev, dim=64, max_eval_rows=10)

    small_ev = embeds.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("eval_id"), "embedding"
    )
    out = semantic_contamination(embeds, small_ev, dim=64, threshold=0.97)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    pre, _, _ = plan.partition("BroadcastHashJoin")
    # above (= downstream of) the join only the matches-only distinct may
    # exchange; the corpus scan side below it must be exchange-free
    join_tail = plan[plan.index("BroadcastHashJoin"):]
    scan_side = join_tail.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in scan_side


def test_containment_pairs_finds_quote_jaccard_blind(spark):
    """A 12-word quote republished from a 60-word page: containment 1.0
    while whole-doc Jaccard is far below any near-dup threshold -- the
    symmetric lanes are structurally blind to it."""
    from mariadb_to_graylog_spark.operators.dedup import (
        containment_pairs,
        lsh_jaccard_verified,
    )

    words = [f"w{i}token" for i in range(60)]
    page = " ".join(words)
    quote = " ".join(words[10:22])
    other = " ".join(f"z{i}item" for i in range(40))
    df = spark.createDataFrame(
        [(1, page), (2, quote), (3, other)], "doc_id long, text string"
    )
    got = {
        (r.id_inner, r.id_outer): r.containment
        for r in containment_pairs(df, n=8, rare_cap=20, threshold=0.9).collect()
    }
    assert got == {(2, 1): 1.0}
    sym = lsh_jaccard_verified(df, threshold=0.5)
    assert sym.filter("id_a = 1 and id_b = 2").count() == 0


def test_containment_pairs_orientation_and_verify_honesty(spark):
    """inner = smaller gram set; a partially-overlapping doc scores the
    exact intersection fraction, and sub-threshold pairs are dropped."""
    from mariadb_to_graylog_spark.operators.dedup import containment_pairs

    words = [f"w{i}tok" for i in range(30)]
    full = " ".join(words)
    # 10 tokens -> 3 8-grams, two of which (positions 5..12, 6..13) exist
    # in full and one (mixed) does not
    partial = " ".join(words[5:13] + ["alien", "alienb"])
    df = spark.createDataFrame(
        [(1, full), (2, partial)], "doc_id long, text string"
    )
    rows = containment_pairs(df, n=8, rare_cap=20, threshold=0.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_inner, r.id_outer) == (2, 1)
    assert r.n_inner_grams == 3 and r.n_inter == 1
    assert abs(r.containment - round(1 / 3, 6)) < 1e-12
    # threshold honest: the same pair vanishes above its score
    assert containment_pairs(df, n=8, rare_cap=20, threshold=0.9).count() == 0


def test_containment_pairs_rare_gram_blind_spot_stated(spark):
    """An inner doc made ENTIRELY of above-cap boilerplate grams has no
    rare gram to surface on -- the documented candidate-generation blind
    spot (cluster-dedup territory, not pair territory)."""
    from mariadb_to_graylog_spark.operators.dedup import containment_pairs

    boiler = " ".join(f"b{i}plate" for i in range(10))
    rows = [(100, boiler + " " + " ".join(f"u{i}nique" for i in range(20)))]
    rows += [(i, boiler) for i in range(1, 9)]  # 9 docs share every gram
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the boilerplate frequency: the contained copies vanish
    out = containment_pairs(df, n=8, rare_cap=5, threshold=0.9)
    assert out.count() == 0
    # cap above it: every boilerplate copy pairs (with doc 100 and each
    # other), containment 1.0
    found = {
        (r.id_inner, r.id_outer)
        for r in containment_pairs(df, n=8, rare_cap=20, threshold=0.9).collect()
    }
    assert (1, 100) in found and (2, 100) in found
    exe = containment_pairs(df, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in exe and "NestedLoop" not in exe


def test_dsir_weights_rank_target_like_docs(spark, docs):
    """Quality-by-example contract: with the German docs as the target
    sample, the mean DSIR log-ratio of 'de' docs beats the mean of every
    other language -- and a hand-built two-token corpus reproduces the
    add-1 arithmetic exactly."""
    from mariadb_to_graylog_spark.operators.textstats import dsir_weights

    target = docs.filter(F.col("lang") == "de").select("text")
    out = dsir_weights(docs, target).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r.lang: r.m
        for r in out.filter(F.col("log_ratio").isNotNull())
        .groupBy("lang")
        .agg(F.avg("log_ratio").alias("m"))
        .collect()
    }
    assert all(means["de"] > v for k, v in means.items() if k != "de"), means


def test_dsir_weights_hand_arithmetic_and_empty_doc(spark):
    """3-doc corpus, 1-doc target: per-bucket micro-nats recompute by
    hand; a tokenless doc reports n_tokens=0 with a NULL ratio."""
    import math

    from mariadb_to_graylog_spark.operators.textstats import dsir_weights

    df = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "gamma beta"), (3, "...")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame([("alpha",)], "text string")
    got = {r.doc_id: r for r in dsir_weights(df, target, n_buckets=16).collect()}
    B = 16
    n_raw, n_tgt = 5, 1
    const = math.log(n_raw + B) - math.log(n_tgt + B)

    def h32b(tok):
        import hashlib

        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B

    raw = {"alpha": 2, "beta": 2, "gamma": 1}
    cr, ct = {}, {}
    for t, c in raw.items():
        cr[h32b(t)] = cr.get(h32b(t), 0) + c
    ct[h32b("alpha")] = 1
    buckets = set(cr) | set(ct)
    micro = {
        b: round(
            (math.log(ct.get(b, 0) + 1) - math.log(cr.get(b, 0) + 1) + const) * 1e6
        )
        for b in buckets
    }
    exp1 = round(
        (2 * micro[h32b("alpha")] + micro[h32b("beta")]) / (3 * 1e6), 6
    )
    assert got[1].n_tokens == 3 and abs(got[1].log_ratio - exp1) < 1e-12
    assert got[3].n_tokens == 0 and got[3].log_ratio is None


def test_paragraph_lang_mix_flags_code_switched_docs(spark):
    """A German article wrapped in English navigation boilerplate must
    come back majority de with n_langs=2 and majority_ppm=666666; a pure
    doc reports 1e6; a paragraph-less doc produces no row."""
    from mariadb_to_graylog_spark.operators.paragraphs import (
        paragraph_language_mix,
    )

    de = "der hund und die katze gehen zu das haus"
    en = "the cat and the dog walk to a house in the garden"
    df = spark.createDataFrame(
        [
            (1, f"{de}\n\n{de} der die und\n\n{en}"),
            (2, f"{en}\n\n{en}"),
            (3, "   \n\n   "),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in paragraph_language_mix(df).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert (r1.n_paragraphs, r1.n_langs, r1.majority_lang) == (3, 2, "de")
    assert r1.majority_ppm == 2 * 1_000_000 // 3
    r2 = got[2]
    assert (r2.n_paragraphs, r2.n_langs, r2.majority_lang, r2.majority_ppm) == (
        2, 1, "en", 1_000_000,
    )


def test_paragraph_lang_mix_majority_tie_is_lexicographic(spark):
    """1 de + 1 en paragraph: tie resolves to the lexicographically
    smallest language ('de'), deterministically."""
    from mariadb_to_graylog_spark.operators.paragraphs import (
        paragraph_language_mix,
    )

    de = "der hund und die katze und das haus und der baum"
    en = "the cat and the dog and a house and the tree"
    df = spark.createDataFrame([(1, f"{de}\n\n{en}")], "doc_id long, text string")
    r = paragraph_language_mix(df).collect()[0]
    assert (r.n_langs, r.majority_lang, r.majority_ppm) == (2, "de", 500000)


def test_incremental_neardup_catches_edited_recrawl(spark):
    """A re-crawl with one edited word slips the exact-md5 lane but must
    come back 'near_duplicate' with the right corpus match; genuinely
    fresh batch docs come back 'kept' with NULL match columns."""
    from mariadb_to_graylog_spark.operators.dedup import incremental_neardup

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "researchers carefully measure benchmark leakage across training "
        "corpora every single evening"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "an entirely different corpus page about sailing")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (101, base.replace("researchers", "scientists")),
            (102, "completely unrelated text about gardening tools"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in incremental_neardup(corpus, batch).collect()}
    assert set(got) == {101, 102}  # one row per batch doc, exactly
    assert got[101].decision == "near_duplicate" and got[101].match_id == 1
    assert got[101].jaccard >= 0.5
    assert got[102].decision == "kept"
    assert got[102].match_id is None and got[102].jaccard is None


def test_incremental_neardup_best_match_tie_is_lowest_corpus_id(spark):
    """Two identical corpus docs: the batch copy must report the LOWEST
    corpus id as its match, deterministically."""
    from mariadb_to_graylog_spark.operators.dedup import incremental_neardup

    text = "identical corpus page replicated under two ids for tie probing"
    corpus = spark.createDataFrame(
        [(7, text), (3, text)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(100, text)], "doc_id long, text string")
    r = incremental_neardup(corpus, batch).collect()[0]
    assert (r.decision, r.match_id, r.jaccard) == ("near_duplicate", 3, 1.0)
    # plan sanity: bucket equi-join, no cartesian anywhere
    plan = (
        incremental_neardup(corpus, batch)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_canonical_url_goldens(spark):
    """Every canonicalization rule, one golden each -- plus the non-URL
    empty-string contract."""
    from mariadb_to_graylog_spark.operators.textstats import canonical_url

    cases = [
        ("https://WWW.Example.COM/a/b/", "https://example.com/a/b"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("https://example.com/a#frag", "https://example.com/a"),
        (
            "https://example.com/a?utm_source=x&b=2&a=1&fbclid=z",
            "https://example.com/a?a=1&b=2",
        ),
        ("https://example.com/a?b=2&a=1", "https://example.com/a?a=1&b=2"),
        ("https://example.com/a?utm_source=x", "https://example.com/a"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com", "https://example.com"),
        ("not a url", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert got == [e for _, e in cases]


def test_url_variant_stats_collapses_planted_variants(spark):
    """www + slash + tracking + fragment + param-order variants of one
    page collapse to ONE canonical with the right raw-form count; a
    URL-less doc contributes nothing."""
    from mariadb_to_graylog_spark.operators.textstats import url_variant_stats

    df = spark.createDataFrame(
        [
            (1, "see https://example.com/page?a=1&b=2 and more"),
            (2, "mirror https://www.example.com/page/?b=2&a=1&utm_source=m#x"),
            (3, "again https://example.com/page?a=1&b=2 twice"),
            (4, "no urls here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.canonical_url: r for r in url_variant_stats(df).collect()}
    assert set(rows) == {"https://example.com/page?a=1&b=2"}
    r = rows["https://example.com/page?a=1&b=2"]
    assert (r.n_occurrences, r.n_raw_forms, r.n_docs) == (3, 2, 3)


def test_image_ahash_pairs_reencodes_md5_blind(spark):
    """A level-1 and a level-9 encode of the same gradient are
    byte-DISTINCT (md5 dedup sees two payloads) but pixel-identical --
    the aHash must group them; a structurally different image (flat
    fill) must not join.  (A SEED change is a constant brightness shift
    and aHash is deliberately brightness-invariant -- same-dims
    different-seed gradients DO share a hash; that's the perceptual
    point, not a bug.)"""
    from mariadb_to_graylog_spark.operators.multimodal import (
        image_ahash_groups,
        make_png,
        make_png_gradient,
    )

    rows = [
        (1, bytearray(make_png_gradient(24, 16, 5, 1))),
        (2, bytearray(make_png_gradient(24, 16, 5, 9))),
        (3, bytearray(make_png(24, 16, pixel_byte=9))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    assert df.select(F.md5("payload")).distinct().count() == 3  # bytes differ
    groups = image_ahash_groups(df).collect()
    sizes = sorted(g.n_images for g in groups)
    pair = [g for g in groups if g.n_images == 2]
    assert sizes == [1, 2] and pair[0].min_id == 1


def test_image_ahash_integer_pool_hand_check(spark):
    """16x16 gradient: recompute the 64-cell integer average-pool and the
    cross-multiplied bit rule in pure Python and demand equality."""
    from mariadb_to_graylog_spark.operators.multimodal import (
        image_ahash,
        make_png_gradient,
    )

    w = h = 16
    seed = 3
    df = spark.createDataFrame(
        [(7, bytearray(make_png_gradient(w, h, seed)))],
        "media_id long, payload binary",
    )
    r = image_ahash(df).collect()[0]
    sums = [0] * 64
    cnts = [0] * 64
    total = 0
    for y in range(h):
        for x in range(w):
            g = (
                (seed + 3 * x + 7 * y) % 256
                + (2 * seed + 5 * x + y) % 256
                + (3 * seed + x + 11 * y) % 256
            )
            k = (y * 8 // h) * 8 + (x * 8 // w)
            sums[k] += g
            cnts[k] += 1
            total += g
    bits = [sums[k] * (w * h) >= total * cnts[k] for k in range(64)]
    lo = sum(1 << i for i in range(32) if bits[i])
    hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
    assert (r.ahash_hi, r.ahash_lo, r.width, r.height) == (hi, lo, w, h)


def test_image_ahash_decode_contract(spark):
    """The stdlib decoder is scoped to what our encoders emit: a non-PNG
    payload raises ValueError, an unsupported color type raises
    NotImplementedError (the documented PIL extension point)."""
    import pytest as _pytest

    from mariadb_to_graylog_spark.operators.multimodal import (
        _decode_png_rgb8_filter0,
        make_wav,
    )

    with _pytest.raises(ValueError, match="not a PNG"):
        _decode_png_rgb8_filter0(make_wav(8000, 1, 4))
    # grayscale (color type 0) header: depth 8, ctype 0
    import struct as _struct
    import zlib as _zlib

    from mariadb_to_graylog_spark.operators.multimodal import _png_chunk

    ihdr = _struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    gray_png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress((b"\x00" + b"\x10" * 4) * 4))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="PIL"):
        _decode_png_rgb8_filter0(gray_png)


def test_strip_html_goldens(spark):
    """Script/style SUBTREES vanish (including decoy tags inside them),
    comments vanish, tags flatten to spaces, entities decode in the
    order that keeps &amp;lt; literal, whitespace collapses."""
    from mariadb_to_graylog_spark.operators.textstats import strip_html

    cases = [
        (
            '<p>Hello <b>world</b></p><script>var a = "<p>fake</p>";</script>',
            "Hello world",
        ),
        ("<style>p { color: red }</style><p>Text</p>", "Text"),
        ("<!-- secret --><div>kept</div>", "kept"),
        ("a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39; &nbsp;f", "a & b <c> \"d\" 'e' f"),
        ("&amp;lt;", "&lt;"),
        ("  <br/> lots   of\n\n space ", "lots of space"),
        ("plain text stays", "plain text stays"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [r.t for r in df.select(strip_html(F.col("h")).alias("t")).collect()]
    assert got == [e for _, e in cases]


def test_html_extract_stats_link_farm_flagged(spark):
    """A nav shell with 40 links and 3 words of text must report a
    link_density_ppm orders of magnitude above an article page."""
    from mariadb_to_graylog_spark.operators.textstats import html_extract_stats

    article = "<html><body><a href='/'>Home</a><p>" + ("word " * 200) + "</p></body></html>"
    farm = (
        "<html><body>" + ('<a href="/x">x</a> ' * 40) + "<p>tiny text here</p></body></html>"
    )
    df = spark.createDataFrame(
        [(1, article), (2, farm)], "doc_id long, html string"
    )
    got = {r.doc_id: r for r in html_extract_stats(df).collect()}
    assert got[1].n_links == 1 and got[2].n_links == 40
    assert got[2].link_density_ppm > 100 * got[1].link_density_ppm
    assert got[1].text.startswith("Home word word")
    # integer ppm: exact division check
    assert got[2].link_density_ppm == 40 * 1_000_000 // got[2].text_chars


def test_audio_fingerprint_pairs_remuxed_clip(spark):
    """A LIST/INFO-tagged re-upload is byte-distinct (md5 dedup sees two
    payloads) but PCM-identical -- the fingerprint must group it with
    the original; a different-seed tone must not join."""
    from mariadb_to_graylog_spark.operators.multimodal import (
        audio_fingerprint_groups,
        make_wav_tone,
    )

    rows = [
        (1, bytearray(make_wav_tone(8000, 120, 5))),
        (2, bytearray(make_wav_tone(8000, 120, 5, pad_list=True))),
        (3, bytearray(make_wav_tone(8000, 120, 6))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    assert df.select(F.md5("payload")).distinct().count() == 3
    groups = {g.n_clips: g for g in audio_fingerprint_groups(df).collect()}
    assert set(groups) == {1, 2} and groups[2].min_id == 1


def test_audio_fingerprint_hand_bands_and_contract(spark):
    """Band sums recomputed in pure Python must give the identical md5;
    a stereo clip raises at the documented scope boundary."""
    import hashlib

    import pytest as _pytest

    from mariadb_to_graylog_spark.operators.multimodal import (
        _wav_pcm16,
        audio_fingerprint,
        make_wav,
        make_wav_tone,
    )

    n, seed = 100, 3
    df = spark.createDataFrame(
        [(9, bytearray(make_wav_tone(8000, n, seed)))],
        "media_id long, payload binary",
    )
    r = audio_fingerprint(df).collect()[0]
    sums = [0] * 8
    for i in range(n):
        v = ((seed + 1) * (i + 7) * (i + 13)) % 65536 - 32768
        sums[i * 8 // n] += abs(v)
    exp = hashlib.md5("-".join(str(x) for x in sums).encode()).hexdigest()
    assert (r.fingerprint, r.sample_rate, r.n_samples) == (exp, 8000, n)
    with _pytest.raises(NotImplementedError, match="mono 16-bit"):
        _wav_pcm16(make_wav(8000, 2, 50))


def test_contamination_report_rollup_hand_counts(spark):
    """Two suites, one with a planted cross-doc leak, one clean: the
    report attributes the leak to the right suite and zero-fills the
    clean one."""
    from mariadb_to_graylog_spark.operators.decontam import contamination_extents

    leak = " ".join(f"w{i}x" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, leak + " trailing content beyond the eval item"),
            (2, "entirely unrelated page about something else whatsoever"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, leak), (11, "pristine eval item nothing quotes ever")],
        "eval_id long, text string",
    )
    ext = contamination_extents(
        docs, ev.withColumnRenamed("eval_id", "doc_id"), n=13
    )
    got = {(r.doc_id, r.eval_id): r.run_tokens for r in ext.collect()}
    assert got == {(1, 10): 20}


def test_unicode_nfc_groups_folds_canonical_equivalents(spark):
    """Composed vs decomposed e-acute: two byte forms, one rendered
    document -- NFC grouping must report n_byte_forms=2 while raw md5
    dedup sees nothing; an unrelated doc stays its own group."""
    from mariadb_to_graylog_spark.operators.textstats import unicode_nfc_groups

    composed = "expos\u00e9 of caf\u00e9 culture"
    decomposed = "expose\u0301 of cafe\u0301 culture"
    assert composed != decomposed  # bytes differ
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, "unrelated page")],
        "doc_id long, text string",
    )
    groups = {g.n_docs: g for g in unicode_nfc_groups(df).collect()}
    assert set(groups) == {1, 2}
    assert groups[2].n_byte_forms == 2 and groups[2].min_id == 1
    assert groups[1].n_byte_forms == 1


def test_pack_segment_stats_full_sequences_and_crossings(spark):
    """3 docs of 10/7/5 tokens packed at seq_len=8 into one shard: hand
    reconstruct the stream and demand exact segment/crossing/fill
    counts, with only the final sequence under-filled."""
    from mariadb_to_graylog_spark.operators.dedup import h32  # noqa: F401
    from mariadb_to_graylog_spark.operators.mixing import (
        pack_segment_stats,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(10))),
            (2, " ".join(f"b{i}" for i in range(7))),
            (3, " ".join(f"c{i}" for i in range(5))),
        ],
        "doc_id long, text string",
    )
    p = {r.doc_id: r for r in pack_sequences(docs, seq_len=8, shards=1).collect()}
    order = sorted(p.values(), key=lambda r: r.stream_offset)
    got = {
        (r.shard, r.seq_idx): r
        for r in pack_segment_stats(docs, seq_len=8, shards=1).collect()
    }
    # hand model: stream of 22 tokens -> seqs 0..2; every seq except the
    # last is exactly full
    total = sum(r.n_tokens for r in order)
    n_seqs = (total + 7) // 8
    assert set(got) == {(0, i) for i in range(n_seqs)}
    for i in range(n_seqs):
        r = got[(0, i)]
        expect_fill = 8 if i < n_seqs - 1 else total - 8 * (n_seqs - 1)
        assert r.filled_tokens == expect_fill, (i, r)
    # crossing bookkeeping: every boundary between consecutive sequences
    # crossed by exactly the doc spanning it
    for i in range(n_seqs - 1):
        assert got[(0, i)].n_crossing_out == got[(0, i + 1)].n_crossing_in
    # segment counts conserve doc-sequence incidences
    incidences = sum(r.seqs_spanned for r in order)
    assert sum(r.n_segments for r in got.values()) == incidences


def test_web_ingest_pipeline_lane_conservation(spark):
    """The decision lanes must PARTITION the ingest exactly and route
    the planted cases correctly (re-ingested page -> duplicate; link
    farm -> boilerplate regardless of its content)."""
    import mariadb_to_graylog_spark.entry_queries as eq

    sf = "/root/testdata/sf0.001"
    rows = eq.ALL_QUERIES["web_ingest_pipeline"](spark, sf).collect()
    total = sum(r.n_docs for r in rows)
    d = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs = d.count()
    n_reingest = d.filter(F.col("doc_id") % 9 == 0).count()
    assert total == n_docs + n_reingest  # lanes partition the ingest
    lanes = {}
    for r in rows:
        lanes[r.decision] = lanes.get(r.decision, 0) + r.n_docs
    # exact duplicate count: every re-ingested page whose (identical)
    # pair passes the link-density gate -- farm pages AND short pages
    # whose 2 nav links alone exceed the ppm gate go boilerplate instead
    from mariadb_to_graylog_spark.operators.textstats import html_extract_stats

    ingest = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 950000).alias("doc_id"), "text"
        )
    )
    html = ingest.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><nav><a href="/a">Home</a> <a href="/b">About</a></nav><p>'),
            F.col("text"),
            F.lit("</p>"),
            F.when(
                F.col("doc_id") % 4 == 0, F.repeat(F.lit('<a href="/x">x</a> '), 30)
            ).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    exp_dup = (
        html_extract_stats(html)
        .filter((F.col("doc_id") >= 950000) & (F.col("link_density_ppm") <= 20000))
        .count()
    )
    assert lanes.get("duplicate", 0) == exp_dup
    assert lanes.get("boilerplate", 0) > 0 and lanes.get("kept", 0) > 0


def test_json_props_extraction_and_corruption_counting(spark):
    """get_json_object pulls k from valid JSON; corrupt and k-less
    payloads surface as counted NULLs, never crashes."""
    import mariadb_to_graylog_spark.entry_queries as eq

    rows = eq.ALL_QUERIES["json_props"](spark, "/root/testdata/sf0.001").collect()
    got = {r.event_type: r for r in rows}
    assert got  # at least one type
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n_total = ev.count()
    assert sum(r.n_events for r in rows) == n_total
    n_corrupt = ev.filter(F.col("event_id") % 11 == 0).count()
    assert sum(r.n_bad_props for r in rows) == n_corrupt  # only the plant is bad
    for r in rows:
        if r.k_min is not None:
            assert r.k_min <= r.k_max


def test_tfidf_keywords_hand_computed(spark):
    """3-doc corpus: a term unique to one doc must outrank corpus-wide
    terms; scores recompute exactly in integer micro-nats; ubiquitous
    terms (df == N) carry idf 0 and cannot outrank anything positive."""
    import math

    from mariadb_to_graylog_spark.operators.textstats import tfidf_keywords

    df = spark.createDataFrame(
        [
            (1, "apple apple banana common common"),
            (2, "banana cherry common"),
            (3, "cherry cherry common common"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.rank): (r.token, r.tf, r.score_micro)
        for r in tfidf_keywords(df, k=3).collect()
    }
    idf = lambda dfreq: round(math.log(3 / dfreq) * 1e6)  # noqa: E731
    # doc 1: apple tf=2 df=1 -> top; banana tf=1 df=2; common idf=0
    assert got[(1, 1)] == ("apple", 2, 2 * idf(1))
    assert got[(1, 2)] == ("banana", 1, idf(2))
    assert got[(1, 3)] == ("common", 2, 0)
    # doc 3: cherry tf=2 df=2 top; ties on score fall back to token text
    assert got[(3, 1)] == ("cherry", 2, 2 * idf(2))


def test_char_entropy_hand_values_and_edges(spark):
    """'aaaa' -> 0 nats; 'abcd' -> ln(4); 16 distinct chars -> ln(16);
    empty doc -> n_chars=0, NULL entropy -- all in the exact micro-nat
    arithmetic."""
    import math

    from mariadb_to_graylog_spark.operators.textstats import char_entropy

    sixteen = "abcdefghijklmnop"
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, sixteen), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in char_entropy(df).collect()}
    assert (got[1].n_chars, got[1].entropy) == (4, 0.0)
    exp2 = round(4 * round(math.log(4) * 1e6) / (4 * 1e6), 6)
    assert (got[2].n_chars, got[2].entropy) == (4, exp2)
    exp3 = round(16 * round(math.log(16) * 1e6) / (16 * 1e6), 6)
    assert (got[3].n_chars, got[3].entropy) == (16, exp3)
    assert got[4].n_chars == 0 and got[4].entropy is None
    # the signal's point: gibberish outranks banner spam
    assert got[3].entropy > got[1].entropy


def test_lang_confusion_shares_and_diagonal(spark):
    """Row shares are floor-ppm that sum to <= 1e6 per label; a corpus
    of unambiguous de/fr/en docs lands on the diagonal; zh-style docs
    (no Latin stopwords) fall to the classifier's en tie-bias -- the
    exact mislabel the table is for."""
    import mariadb_to_graylog_spark.entry_queries as eq

    rows = eq.ALL_QUERIES["lang_confusion"](spark, "/root/testdata/sf0.001").collect()
    per_label = {}
    for r in rows:
        per_label.setdefault(r.lang, []).append(r)
    for lang, rs in per_label.items():
        assert sum(x.row_share_ppm for x in rs) <= 1_000_000
        assert all(x.row_share_ppm >= 0 for x in rs)
    zh = {r.pred_lang: r.n_docs for r in per_label.get("zh", [])}
    if zh:
        assert "zh" not in zh  # the classifier has no zh class at all


def test_dup_cluster_provenance_source_spread(spark):
    """Two corpus pages copied across sources + one self-republishing
    source: the provenance table reports the exact source sets; the
    singleton page produces no row."""
    from mariadb_to_graylog_spark.operators.dedup import (
        lsh_jaccard_verified,
        near_dedup_groups,
    )

    page = (
        "a long enough page about rivers and valleys that minhash "
        "signatures stabilize across its shingle set for the test"
    )
    other = (
        "a different article describing mountain passes and the weather "
        "patterns that close them in early winter every single year"
    )
    df = spark.createDataFrame(
        [
            (1, page, "srcA"),
            (2, page + " xyz", "srcB"),     # cross-source near-copy
            (3, other, "srcC"),
            (4, other + " xyz", "srcC"),    # self-republication
            (5, "a singleton page about nothing in particular today", "srcD"),
        ],
        "doc_id long, text string, source string",
    )
    pairs = lsh_jaccard_verified(
        df, shingle_n=4, bands=4, rows_per_band=8, n=3, threshold=0.5
    )
    groups = near_dedup_groups(df, pairs)
    j = groups.join(df.select("doc_id", "source"), "doc_id")
    agg = (
        j.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    got = {r.group_id: (r.n_sources, r.sources) for r in agg.collect()}
    assert got == {1: (2, "srcA,srcB"), 3: (1, "srcC")}
