"""Dup-cluster resolution (connected components + canonical selection)
and deterministic sampling / splitting / shuffling / packing."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tweetaggregates_spark.operators import cluster, sampling, similarity
from tweetaggregates_spark.operators.cluster import (
    assign_clusters,
    canonical_docs,
    connected_components,
    connected_components_two_phase,
)
from tweetaggregates_spark.sources.tables import load_table

SF0001 = "/root/testdata/sf0.001"


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


@pytest.fixture
def cc_paths(monkeypatch):
    """Both sides of connected_components' size dispatch: iterating the
    returned generator runs the loop body first on the driver
    union-find path, then on the Spark hash-min path (LOCAL_EDGE_LIMIT
    = -1: no graph fits, not even an empty one)."""

    def paths():
        yield "local"
        monkeypatch.setattr(cluster, "LOCAL_EDGE_LIMIT", -1)
        yield "spark"

    return paths


def test_connected_components_two_components(spark, cc_paths):
    for path in cc_paths():
        labels = connected_components(
            _pairs(spark, [(1, 2), (2, 3), (5, 6)])
        )
        got = {r["node"]: r["cluster_id"] for r in labels.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}, path


def test_connected_components_chain_converges(spark, cc_paths):
    # a 6-node path (diameter 5) exercises multi-round propagation; the
    # reversed edge order means labels must flow against edge direction
    for path in cc_paths():
        labels = connected_components(
            _pairs(spark, [(5, 6), (4, 5), (3, 4), (2, 3), (1, 2)])
        )
        got = {r["node"]: r["cluster_id"] for r in labels.collect()}
        assert got == {n: 1 for n in range(1, 7)}, path


def test_connected_components_empty_graph(spark, cc_paths):
    for path in cc_paths():
        labels = connected_components(_pairs(spark, []))
        assert labels.collect() == [], path
        assert labels.columns == ["node", "cluster_id"], path


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=40
    ),
    reversed_every=st.integers(1, 4),
)
def test_connected_components_paths_agree(spark, edges, reversed_every):
    """On random graphs with self-loops, duplicate and reversed edges,
    the driver union-find and the Spark hash-min loop give identical
    labels."""
    rows = (
        edges
        + edges[::2]  # duplicates
        + [(b, a) for a, b in edges[::reversed_every]]  # reversed
        + [(a, a) for a, _ in edges[::3]]  # self-loops
    )
    local = sorted(
        map(tuple, connected_components(_pairs(spark, rows)).collect())
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "LOCAL_EDGE_LIMIT", -1)
        on_spark = sorted(
            map(tuple, connected_components(_pairs(spark, rows)).collect())
        )
    assert local == on_spark


def test_two_phase_matches_hash_min_on_small_graphs(spark, cc_paths):
    for path in cc_paths():
        for rows in (
            [(1, 2), (2, 3), (5, 6)],
            [(5, 6), (4, 5), (3, 4), (2, 3), (1, 2)],
            [(10, 20), (20, 10), (7, 7)],  # dup edges + self loop
        ):
            want = {
                r["node"]: r["cluster_id"]
                for r in connected_components(_pairs(spark, rows)).collect()
            }
            got = {
                r["node"]: r["cluster_id"]
                for r in connected_components_two_phase(
                    _pairs(spark, rows)
                ).collect()
            }
            assert got == want, (path, rows)


def test_two_phase_chain_10k_converges_in_log_rounds(spark):
    """The adversarial case hash-min can't do: a 10k-node path has
    diameter 10k, but large-star/small-star must close it within
    O(log n) rounds — max_rounds=20 caps the loop, so correct labels
    PROVE convergence inside the bound (~2*log2(10k) ~ 27 halvings
    happen across the paired phases)."""
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels = connected_components_two_phase(pairs, max_rounds=20)
    assert labels.count() == n
    assert (
        labels.filter(F.col("cluster_id") != 0).count() == 0
    ), "chain did not fully contract to the component min"


def test_two_phase_matches_hash_min_on_real_pair_graph(spark, cc_paths):
    """dedup_clusters_docs parity: on the documents' MinHash-LSH pair
    graph both algorithms must produce identical cluster labels."""
    from tweetaggregates_spark.operators import dedup

    docs = load_table(spark, SF0001, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    got = {
        tuple(r)
        for r in connected_components_two_phase(pairs).collect()
    }
    for path in cc_paths():
        want = {
            tuple(r) for r in connected_components(pairs).collect()
        }
        assert got == want, path


def test_assign_clusters_includes_singletons(spark, cc_paths):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    for path in cc_paths():
        out = assign_clusters(docs, _pairs(spark, [(2, 4), (4, 6)]))
        got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {1: 1, 2: 2, 3: 3, 4: 2, 5: 5, 6: 2, 7: 7}, path


def test_canonical_docs_keeps_best_quality(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7)], "doc_id long, n_chars long"
    )
    out = canonical_docs(docs, _pairs(spark, [(1, 2), (2, 3)]))
    rows = {r["cluster_id"]: r for r in out.collect()}
    # cluster {1,2,3}: quality tie 2 vs 3 broken by lower doc_id
    assert rows[1]["keep_doc_id"] == 2 and rows[1]["n_members"] == 3
    assert rows[4]["keep_doc_id"] == 4 and rows[4]["n_members"] == 1


def test_hash_sample_fraction_and_determinism(spark):
    docs = spark.range(0, 10_000).withColumnRenamed("id", "k")
    a = sampling.hash_sample(docs, "k", 0.2).collect()
    b = sampling.hash_sample(docs, "k", 0.2).collect()
    assert sorted(a) == sorted(b)  # pure function of (salt, key)
    assert 0.17 < len(a) / 10_000 < 0.23
    # a different salt draws an (almost surely) different subset
    c = sampling.hash_sample(docs, "k", 0.2, salt="other").collect()
    assert sorted(c) != sorted(a)


def test_split_assign_partitions_completely(spark):
    docs = spark.range(0, 5_000).withColumnRenamed("id", "k")
    out = sampling.split_assign(docs, "k", 0.1, 0.1)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 5_000
    assert 0.07 < counts["val"] / 5_000 < 0.13
    assert 0.07 < counts["test"] / 5_000 < 0.13
    # appending new rows never moves an old row's split
    bigger = sampling.split_assign(
        spark.range(0, 10_000).withColumnRenamed("id", "k"), "k", 0.1, 0.1
    )
    old = {r["k"]: r["split"] for r in out.collect()}
    new = {r["k"]: r["split"] for r in bigger.collect() if r["k"] < 5_000}
    assert old == new


def test_shuffle_order_is_permutation(spark):
    docs = spark.range(0, 3_000).withColumnRenamed("id", "k")
    out = sampling.shuffle_order(docs, "k", n_buckets=16)
    pos = sorted(r["pos"] for r in out.collect())
    assert pos == list(range(3_000))
    # not the identity order (it's a shuffle)
    by_k = [r["pos"] for r in out.orderBy("k").collect()]
    assert by_k != sorted(by_k)


def test_pack_sequences_contiguous_budget(spark):
    docs = spark.createDataFrame(
        [(i, 100) for i in range(100)], "k long, ntok long"
    )
    out = sampling.pack_sequences(docs, "k", "ntok", budget=1000)
    rows = sorted(out.collect(), key=lambda r: r["start_offset"])
    # offsets are the exact global cumsum in a deterministic order
    assert [r["start_offset"] for r in rows] == [100 * i for i in range(100)]
    # every chunk is floor(start/budget): 10 docs of 100 tokens per chunk
    for r in rows:
        assert r["chunk_id"] == r["start_offset"] // 1000
    sizes = {}
    for r in rows:
        sizes[r["chunk_id"]] = sizes.get(r["chunk_id"], 0) + 100
    assert set(sizes.values()) == {1000}


def test_blocked_near_dups_equal_allpairs(spark):
    emb = load_table(spark, SF0001, "embeddings")
    ap = {tuple(r) for r in
          similarity.cosine_near_dup_pairs(emb, threshold=0.4).collect()}
    bl = {tuple(r) for r in
          similarity.cosine_near_dup_pairs_blocked(emb, threshold=0.4).collect()}
    assert ap == bl and len(ap) > 0


def test_tiled_near_dups_equal_allpairs(spark):
    emb = load_table(spark, SF0001, "embeddings")
    ap = {tuple(r) for r in
          similarity.cosine_near_dup_pairs(emb, threshold=0.4).collect()}
    tl = {tuple(r) for r in
          similarity.cosine_near_dup_pairs_tiled(
              emb, threshold=0.4, n_blocks=3).collect()}
    assert ap == tl and len(ap) > 0


def test_salted_join_equals_plain_join(spark):
    from tweetaggregates_spark.operators.skew import salted_join

    # 90% of fact rows share one hot key
    fact = spark.createDataFrame(
        [(1 if i % 10 else i, float(i)) for i in range(2_000)],
        "k long, v double",
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 2_000, 7)] + [(1, "hot")],
        "k long, name string",
    )
    plain = fact.join(dim, "k").collect()
    salted = salted_join(fact, dim, "k", n_salts=8).collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))
    left_plain = fact.join(dim, "k", "left").collect()
    left_salted = salted_join(fact, dim, "k", n_salts=8, how="left").collect()
    assert sorted(map(tuple, left_salted)) == sorted(map(tuple, left_plain))
