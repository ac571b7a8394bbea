"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Core operators of a large-scale training-data pipeline, built Spark-first:

- **exact**: hash-groupBy on a content digest (one shuffle, fully pushed to
  JVM ``md5``);
- **n-gram Jaccard**: exact set similarity over word shingles — the
  verification predicate for candidate pairs;
- **MinHash + LSH**: linear-time near-dup discovery — signatures via
  Catalyst higher-order functions, banding, bucket self-join.  At 100 TB the
  bucket join replaces the O(n²) pair enumeration; skewed buckets (boiler-
  plate shingles) are bounded by ``max_bucket`` before the join;
- **SimHash**: 64-bit hyperplane sketch via explode + 64 conditional sums —
  one shuffle per corpus, Hamming-distance candidate filter.

Choosing a pair miner at scale — copies vs content: the exact prefix-filter
join (:func:`prefix_filter_pairs`) scales with corpora that grow by adding
CONTENT (document frequencies stay bounded); corpora that grow by adding
COPIES (crawl snapshots, mirrors) push both its candidate set and its exact
output quadratic in copies-per-cluster — that regime belongs to the
MinHash-LSH path, whose ``max_bucket`` cap bounds pair work regardless of
copy count (details on :func:`prefix_filter_pairs`; measured in SCALE.md).

Hashing/banding/verification are pure Column expressions (xxhash64 /
aggregate / transform, whole-stage codegen).  The one Arrow kernel is the
MinHash permutation-min (:func:`signatures_arrow`): Catalyst higher-order
lambdas are interpreted per element and lose badly on dense per-shingle
arithmetic; the UDF-free expression form is kept and pinned
signature-identical as the cross-check and oracle reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streaming_spark.functions.text import tokens
from kafka_streaming_spark.ops.partitioning import spread

MINHASH_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime; classic MinHash modulus)


def content_digest(text: Column) -> Column:
    """Exact-dup key: md5 of the raw text (same function exists in DuckDB →
    oracle-checkable)."""
    return F.md5(text)


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash computable bit-identically in Spark AND DuckDB:
    the first 15 hex chars of md5, read as an integer.

    Spark: ``conv(substring(md5(s),1,15),16,10)``; DuckDB:
    ``CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)``.  The shared hash
    family is what lets the full MinHash/SimHash pipelines be DuckDB-oracle
    checked; the xxhash64 family stays the default for production (one JVM
    intrinsic vs md5's block cipher — prefer it when no cross-engine oracle
    is needed)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct content, keeping
    the smallest id (deterministic keeper) and the duplicate count."""
    return df.groupBy(content_digest(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("keeper_" + id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (shingles) of the text → array<string>.
    Documents shorter than ``n`` tokens yield their full token join."""
    toks = tokens(F.lower(text))
    ngram = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(ngram)


def span_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    window: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing fingerprints for exact-substring duplication detection
    (the MOSS selection scheme): hash every ``span_tokens``-token span,
    then keep the MINIMUM hash of each ``window`` of consecutive spans.
    Winnowing guarantees every duplicated run of at least
    ``span_tokens + window - 1`` tokens shares at least one selected
    fingerprint between the two documents — unlike plain every-Nth
    sampling, which can miss aligned duplicates entirely.

    Pure Column expressions, built per stage as zip_with over SHIFTED
    SLICES with a projection between stages: the naive
    ``transform(sequence(i), f(slice(arr, i, k)))`` form re-evaluates the
    upstream array expression per index (Catalyst does not CSE across HOF
    lambda bodies — measured ~10× slower on the sf0.1 corpus, the same
    lesson as ``text.bigrams``), while a k-way zip of shifted slices is k
    linear passes.  ``hash_family="md5"`` uses :func:`portable_hash60` so
    the whole selection is DuckDB-reproducible.  Returns one (id, fp) row
    per selected fingerprint."""
    base = portable_hash60 if hash_family == "md5" else F.xxhash64

    def join_ws(a: Column, b: Column) -> Column:
        return F.concat_ws(" ", a, b)

    def zip_tree(arrs: list[Column], combine) -> Column:
        """Balanced binary zip_with fold; zip_with pads the shorter side
        with null, which concat_ws/least both ignore — exactly the
        truncated-slice semantics of the naive form for short documents."""
        while len(arrs) > 1:
            nxt = [
                F.zip_with(arrs[i], arrs[i + 1], combine)
                if i + 1 < len(arrs)
                else arrs[i]
                for i in range(0, len(arrs), 2)
            ]
            arrs = nxt
        return arrs[0]

    toks = tokens(F.lower(F.col(text_col)))
    staged = spread(df).select(F.col(id_col), toks.alias("__t"))
    n_spans = F.greatest(F.size(F.col("__t")) - (span_tokens - 1), F.lit(1))
    spans = zip_tree(
        [F.slice(F.col("__t"), j + 1, n_spans) for j in range(span_tokens)], join_ws
    )
    staged = staged.select(F.col(id_col), spans.alias("__spans"))
    staged = staged.select(
        F.col(id_col), F.transform(F.col("__spans"), lambda s: base(s)).alias("__h")
    )
    n_windows = F.greatest(F.size(F.col("__h")) - (window - 1), F.lit(1))
    mins = zip_tree(
        [F.slice(F.col("__h"), j + 1, n_windows) for j in range(window)],
        lambda a, b: F.least(a, b),
    )
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp")
    )


def duplicated_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    window: int = 4,
    max_bucket: int = 50,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Document pairs sharing duplicated token spans, with the count of
    shared winnowing fingerprints — the exact-substring component of a
    training-data dedup pass (catches copied paragraphs that MinHash's
    whole-document Jaccard dilutes away).  One explode + one bounded
    bucket self-join on the fingerprint (``max_bucket`` caps boilerplate
    spans), same scale shape as the MinHash candidate join."""
    fp = span_fingerprints(df, id_col, text_col, span_tokens, window, hash_family)
    buckets = (
        fp.groupBy("fp")
        .agg(F.collect_list(id_col).alias("ids"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
    )
    return (
        buckets.select("fp", F.explode("ids").alias("id_a"), F.col("ids"))
        .select("fp", "id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )


def contamination_hits(
    corpus: DataFrame,
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word ``n``-grams appear anywhere in the heldout (benchmark)
    set.  Docs with no hit are absent from the result.

    Scale shape: both sides explode to (doc, ngram) rows and meet in ONE
    semi-join shuffled on the ngram string; the heldout side is first
    collapsed to its distinct ngrams (benchmark sets are orders of magnitude
    smaller than the corpus, so the planner broadcasts it when it fits and
    falls back to a shuffle join when it doesn't — no forced hint)."""
    c = spread(corpus).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("__ng")
    )
    h = heldout.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("__ng")
    ).distinct()
    return (
        c.join(h, "__ng", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard (quadratic — the small-corpus baseline
    and the verifier for LSH candidates; never run unbounded at 100 TB).
    Emits pairs with ``id_a < id_b`` and similarity > threshold."""
    sh = spread(df).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("shingles")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jaccard(F.col("a.shingles"), F.col("b.shingles")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") > threshold)
    )


def shingle_hashes(
    text: Column, shingle_n: int = 3, hash_family: str = "xxhash64"
) -> Column:
    """Shingle → bounded integer hash array (the MinHash input).

    ``hash_family="md5"`` switches to :func:`portable_hash60`, whose values
    DuckDB reproduces exactly — used by the oracle-checked registry queries;
    the default xxhash64 is the faster production path."""
    base = portable_hash60 if hash_family == "md5" else F.xxhash64
    return F.transform(
        word_shingles(text, shingle_n), lambda s: F.pmod(base(s), F.lit(MINHASH_MOD))
    )


def signature_from_hashes(hashes: Column, num_hashes: int = 32) -> Column:
    """MinHash signature from a *materialized* shingle-hash array: for
    permutation j, ``min((a_j*h + b_j) mod P)``.  Hash family constants are
    fixed odd multipliers — deterministic across runs and machines.

    Callers should project ``shingle_hashes`` into a column first so the
    shingling work happens once, not once per permutation (Catalyst does
    not CSE the subtree across the ``num_hashes`` expressions).

    The permutation constant is bound via a closure FACTORY, never a
    ``lambda h, j=j`` default argument: PySpark reads a two-parameter
    lambda (defaults included) as the (element, index) form and silently
    rebinds ``j`` to the array index — which collapses all ``num_hashes``
    permutations into one position-mixed hash and guts LSH recall."""

    def perm(j: int):
        a, b = 2 * j + 1, j * 12_345 + 7
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(MINHASH_MOD))

    mins = [F.array_min(F.transform(hashes, perm(j))) for j in range(num_hashes)]
    return F.array(*mins)


def signatures_arrow(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hashes_col: str = "hs",
    num_hashes: int = 32,
    out_col: str = "sig",
) -> DataFrame:
    """MinHash signatures via an Arrow-vectorized numpy pass — the same
    ``min((a_j*h + b_j) mod P)`` arithmetic as :func:`signature_from_hashes`,
    exact in int64 (h < 2^31 and a_j ≤ 2·num_hashes keep every product well
    under 2^63), so both paths produce IDENTICAL signatures (pinned in
    ``test_dedup_clusters.py::test_arrow_signatures_match_sql``).

    Catalyst evaluates higher-order-function lambdas interpreted per
    element: ``num_hashes`` transforms over every shingle is ~32 boxed
    evals/shingle, while this path is one ``(S × 1) * (1 × 32)`` broadcast
    multiply + column min per document in numpy — the same trade as the LSH
    keying fast path (`similarity.lsh_keys_df`), with the UDF-free
    expression form kept as the cross-check and DuckDB-oracle reference."""
    from pyspark.sql.functions import pandas_udf

    a = np.array([2 * j + 1 for j in range(num_hashes)], dtype=np.int64)
    b = np.array([j * 12_345 + 7 for j in range(num_hashes)], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def sig(hs: pd.Series) -> pd.Series:
        out = []
        for arr in hs:
            if arr is None:  # null text -> null hashes array, like the
                out.append([None] * num_hashes)  # pure-Column form yields
                continue
            h = np.asarray(arr, dtype=np.int64)
            if h.size == 0:
                out.append([None] * num_hashes)
            else:
                out.append(((h[:, None] * a + b) % MINHASH_MOD).min(axis=0))
        return pd.Series(out)

    return hashed.select(F.col(id_col), sig(F.col(hashes_col)).alias(out_col))


def minhash_signature(text: Column, num_hashes: int = 32, shingle_n: int = 3) -> Column:
    """MinHash signature straight from text (convenience; prefer
    ``shingle_hashes`` + ``signature_from_hashes`` with an intermediate
    projection when computing many permutations)."""
    return signature_from_hashes(shingle_hashes(text, shingle_n), num_hashes)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 50,
    hashed: DataFrame | None = None,
    hash_family: str = "xxhash64",
    arrow_signatures: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidates.

    signature → split into ``bands`` bands of ``num_hashes/bands`` rows →
    band key = xxhash64(band slice) → self-join per (band, key) bucket.
    Buckets larger than ``max_bucket`` (degenerate boilerplate) are dropped
    to bound the join fan-out — at corpus scale this is the difference
    between a linear pass and an accidental cross-join.

    ``arrow_signatures`` selects the numpy signature kernel (default — see
    :func:`signatures_arrow`); ``False`` keeps the pure Column-expression
    form, pinned signature-identical to the Arrow path in tests.
    """
    rows = num_hashes // bands
    # Two projection steps: materialize the shingle hashes ONCE, then build
    # the num_hashes permutation mins over the materialized array.
    if hashed is None:
        hashed = spread(df).select(
            F.col(id_col),
            shingle_hashes(F.col(text_col), shingle_n, hash_family).alias("hs"),
        )
    if arrow_signatures:
        sig = signatures_arrow(hashed, id_col, "hs", num_hashes, "sig")
    else:
        sig = hashed.select(
            F.col(id_col), signature_from_hashes(F.col("hs"), num_hashes).alias("sig")
        )
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.concat_ws(",", *[F.element_at("sig", i * rows + r + 1) for r in range(rows)])
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )
    buckets = sig.select(F.col(id_col), F.explode(band_cols).alias("bk")).select(
        id_col, "bk.band", "bk.key"
    )
    small = (
        buckets.groupBy("band", "key")
        .agg(F.collect_list(id_col).alias("ids"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
    )
    pairs = (
        small.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return pairs


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from banding, verified
    with exact Jaccard over the shingle-HASH arrays (candidates only — the
    expensive predicate never touches non-colliding pairs).

    The shingle-hash arrays are computed once and cached: signatures,
    banding, AND verification all read the same materialized column, so the
    corpus text is shingled exactly once end-to-end.  Verifying on hash
    arrays instead of raw shingles is exact up to 2^-31 hash collisions and
    avoids a second shingling pass entirely.  (Cache is LRU-evictable;
    at cluster scale swap ``persist()`` for a parquet checkpoint of the
    hash column.)"""
    hashed = spread(df).select(
        F.col(id_col), shingle_hashes(F.col(text_col), shingle_n, hash_family).alias("hs")
    ).persist()
    cand = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, hashed=hashed
    )
    return (
        cand.join(hashed.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a")), "id_a")
        .join(hashed.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
        .select("id_a", "id_b", jaccard(F.col("hs_a"), F.col("hs_b")).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


def _materialize(df: DataFrame, backend: str, tag: str, eager: bool) -> DataFrame:
    """Cut lineage between CC rounds.  ``backend``:

    - ``"local"`` — ``localCheckpoint`` (executor-local blocks; fastest,
      fine for tests/single-node, but lineage is unrecoverable if an
      executor is lost — NOT what you want on a 1000-executor run);
    - ``"reliable"`` — ``DataFrame.checkpoint`` into the cluster's
      configured checkpoint dir (``sc.setCheckpointDir``; HDFS/S3-backed,
      survives executor loss — the 100 TB setting);
    - any other string — treated as a directory path: parquet spill +
      re-read (storage-backed like ``reliable`` but with no Spark
      checkpoint-dir configuration required, and human-inspectable).
    """
    if backend == "local":
        return df.localCheckpoint(eager=eager)
    if backend == "reliable":
        return df.checkpoint(eager=eager)
    path = f"{backend.rstrip('/')}/{tag}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Connected components over a collected edge list → (doc_id,
    cluster_id) with cluster_id = component minimum.  Caller guarantees
    the edge count is bounded; ``a <= b`` keeps one orientation per
    undirected edge while retaining self-loop-only nodes.

    r12: the per-edge Python union-find loop (550k ``find()`` calls ≈
    1.5 s of single-threaded pointer chasing on x_dbscan_clusters) is
    replaced by vectorized min-label propagation + pointer jumping on
    numpy arrays — scatter-min over all edges (``np.minimum.at``) then
    ``label = label[label]`` until the fixed point, O(log diameter)
    C-speed passes.  ``np.unique`` is order-preserving, so the minimum
    dense index IS the minimum node id — the converged label maps back
    to exactly the component-min contract of the old union-find."""
    import numpy as np

    # Arrow transfer into two flat columns (16 bytes/edge in the Arrow
    # buffer) instead of collect()'s Row objects (100+ bytes/edge, which
    # made the old 4M default a near-GB driver allocation, not the ~64 MB
    # its docstring claimed).
    tbl = edges.filter(F.col("a") <= F.col("b")).toArrow()
    col_a = tbl.column("a").to_numpy(zero_copy_only=False)
    col_b = tbl.column("b").to_numpy(zero_copy_only=False)

    from pyspark.sql.types import StructField, StructType

    node_type = edges.schema["a"].dataType
    schema = StructType(
        [StructField("doc_id", node_type), StructField("cluster_id", node_type)]
    )
    if len(col_a) == 0:
        return edges.sparkSession.createDataFrame([], schema)

    nodes, inv = np.unique(np.concatenate([col_a, col_b]), return_inverse=True)
    ia, ib = inv[: len(col_a)], inv[len(col_a):]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        # scatter-min across both edge orientations, then path-halve
        np.minimum.at(label, ia, label[ib])
        np.minimum.at(label, ib, label[ia])
        label = label[label]
        nxt = label[label]
        if np.array_equal(nxt, label):
            # fixed point under jumping; one more edge pass to confirm
            lo = np.minimum(label[ia], label[ib])
            if np.array_equal(lo, label[ia]) and np.array_equal(lo, label[ib]):
                break
        label = nxt
    # tolist() yields native Python values of any node type (int or str)
    out = np.stack([nodes, nodes[label]], axis=1).tolist()
    return edges.sparkSession.createDataFrame(out, schema)


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    checkpoint: str = "local",
    max_rounds: int = 20,
    small_graph_limit: int = 4_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    cluster_id) with cluster_id = the component's minimum doc id.

    This is the step that makes near-dup detection *actionable*: keep one
    representative per cluster, drop the rest.  Algorithm: iterative
    min-label propagation (each node adopts the smallest label among itself
    and its neighbors) PLUS pointer jumping (each node then adopts its
    label's label — path halving), so convergence is O(log diameter)
    rounds, not O(diameter): a 50-node chain converges in ~7 rounds and the
    ``max_rounds=20`` bound covers diameters up to ~2^20.  Each round is a
    bounded number of shuffles; the loop runs driver-side but all data
    stays distributed (the only collect is the 1-row convergence check, the
    same pattern as GraphX/GraphFrames CC).

    ``checkpoint`` selects the lineage-cut backend per round (see
    ``_materialize``): default ``"local"`` for tests; pass ``"reliable"``
    or a storage path on real clusters so a lost executor doesn't force a
    full recompute of every previous round.

    ``small_graph_limit``: the VERIFIED near-dup edge set is orders of
    magnitude smaller than the corpus (LSH bounds bucket fan-out, the exact-
    Jaccard verification prunes further), so after the one distributed
    edge-materialization it is usually a SMALL graph.  When the symmetric
    edge count is at or below this limit the components are solved by a
    driver-side union-find in one pass (the Arrow-collected edge columns
    are 16 bytes/edge — 64 MB at the 4M default — plus transient Python
    int/dict overhead of a few hundred MB worst-case; size the limit to
    your driver heap) instead of paying O(log diameter) rounds of
    distributed joins
    whose fixed per-job latency dominates at that size.  Larger graphs — or
    ``small_graph_limit=0`` — take the distributed pointer-jumping loop
    below, which scales to graphs that never fit one machine.
    """
    # Materialize the edge set once: it is re-joined every propagation
    # round, and its lineage may include the full upstream candidate
    # pipeline (MinHash/LSH) — without the checkpoint each round would
    # recompute all of it.  The symmetric closure is built with a single
    # explode pass (NOT a self-union: two union branches would execute the
    # whole upstream candidate pipeline twice — measurably 2× the corpus
    # scan at any scale).
    edges = _materialize(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
                    F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct(),
        checkpoint,
        "edges",
        eager=True,
    )
    if small_graph_limit and edges.count() <= small_graph_limit:
        return _driver_union_find(edges)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # Convergence detector: each round carries every node's previous label
    # along (``__old``) and counts the nodes whose label moved — zero at the
    # fixed point.  One aggregate per round, no new-vs-old join, and it only
    # compares labels, so it holds for any orderable id type (a label sum
    # would need numeric ids).
    _moved_expr = F.count_if(F.col("label") != F.col("__old")).alias("moved")
    for rnd in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # Pointer jumping (path halving): adopt the label of your label —
        # min-labels hop 2^r nodes per round instead of 1.  ``propagated``
        # feeds both sides of the self-join; cache it so the propagation
        # subtree (two joins + an aggregate) runs once per round, not twice.
        propagated = propagated.persist()
        new_labels = (
            propagated.alias("x")
            .join(
                propagated.select(
                    F.col("node").alias("__ln"), F.col("label").alias("__ll")
                ),
                F.col("x.label") == F.col("__ln"),
                "left",
            )
            .select(
                "node",
                "x.__old",
                F.least(F.col("x.label"), F.coalesce(F.col("__ll"), F.col("x.label"))).alias(
                    "label"
                ),
            )
        )
        # Lazy checkpoint: the convergence aggregate below is the action
        # that materializes it — one Spark job per round, not two.
        new_labels = _materialize(new_labels, checkpoint, f"round_{rnd}", eager=False)
        moved = new_labels.agg(_moved_expr).collect()[0]["moved"]
        propagated.unpersist()  # new_labels is materialized by the agg above
        labels = new_labels.drop("__old")
        if moved == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document (60-bit with ``hash_family="md5"``).

    Explode tokens → hash → for each bit, conditional ±1 sum per doc →
    sign vector → packed long.  One shuffle (groupBy id); the bit sums are a
    single hash-aggregate, all codegen'd.  The md5 family keeps every bit
    reproducible in DuckDB (:func:`portable_hash60`), which is how the
    registry query gets a full value-hash oracle."""
    n_bits = 60 if hash_family == "md5" else 64
    hash_fn = portable_hash60 if hash_family == "md5" else F.xxhash64
    tok = spread(df).select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    h = tok.select(id_col, hash_fn(F.col("tok")).alias("h"))
    bit_sums = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(n_bits)
        ]
    )
    packed = bit_sums.select(
        F.col(id_col),
        sum(
            [
                F.when(
                    F.col(f"b{b}") > 0,
                    F.lit(1).cast("long") * (2**b if b < 63 else -(2**63)),
                ).otherwise(0)
                for b in range(n_bits)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit sketches via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """The actionable end of near-dup dedup: given ``clusters`` (doc_id →
    cluster_id, only docs that appear in some near-dup pair) pick ONE
    representative per cluster — highest ``score_col``, smallest id on
    ties — and report the cluster size.  Docs in no cluster are their own
    singleton cluster, so the output is exactly "the corpus after dedup":
    one row per surviving document.

    100 TB shape: left join on the doc id (clusters side is the small
    near-dup subset — AQE broadcasts it when it fits), then ONE hash
    aggregate on cluster_id; the keeper is selected with a lexicographic
    ``max(struct(score, -id))`` so the whole reduction is a partial-agg-
    friendly min/max, not a window sort.
    """
    labeled = (
        docs.select(F.col(id_col), F.col(score_col))
        .join(
            clusters.select(F.col("doc_id").alias("__cid"), "cluster_id"),
            F.col(id_col) == F.col("__cid"),
            "left",
        )
        .select(
            id_col,
            score_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col(id_col)).alias("negid")
        )
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("cluster_size"),
            (-best.getField("negid")).cast("long").alias("kept_doc_id"),
            best.getField("s").cast("long").alias("kept_" + score_col),
        )
        .select("cluster_id", "kept_doc_id", "kept_" + score_col, "cluster_size")
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 500_000,
) -> DataFrame:
    """EXACT similarity join via prefix filtering (PPJoin-style) — the
    scale path that makes "all pairs with Jaccard ≥ t" tractable without
    the quadratic cross join of :func:`ngram_jaccard_pairs` and without
    the approximation of MinHash-LSH.

    The filter: order every document's shingles by global rarity
    (document frequency asc, shingle asc — one total order both engines
    reproduce), and keep only the first ``|d| - ceil(t·|d|) + 1`` as the
    document's PREFIX.  Any two documents with Jaccard ≥ t MUST share at
    least one prefix shingle (pigeonhole: a pair that disagrees on all
    prefix tokens has too few left to reach the required intersection),
    so joining on prefix shingles yields a candidate superset — typically
    tiny, because prefixes are built from the RAREST shingles (bounded
    document frequency), not the common ones that drive join fan-out.
    Candidates are then verified with the exact intersection count,
    keeping ``inter·10^6 ≥ t_micro·union`` (integer cross-multiplication,
    no float division in the predicate).

    Scale shape: shingle-ARRAY materialization (cached — one shingling
    pass feeds everything) → df counts (one groupBy over the explode) →
    per-doc rarity ranking (window partitioned by doc, bounded by doc
    length) → prefix self-join with the PPJoin LENGTH filter
    (``min(|a|,|b|) ≥ t·max(|a|,|b|)`` — a necessary condition for
    J ≥ t, applied inside the join) → verification as an
    ``array_intersect`` over the two cached shingle arrays, joined per
    CANDIDATE — |cand| rows carrying two bounded arrays, never an
    exploded |cand|·|doc| token stream.  No step is quadratic in the
    corpus.  Returns ``(id_a, id_b, n_common, n_union, jaccard_micro)``
    with ``id_a < id_b``.

    OPERATIONAL GUARDRAIL — copies vs content (SCALE.md r7 finding):
    "not quadratic in the corpus" holds for corpora that grow by adding
    CONTENT (new documents → new shingles → document frequencies stay
    bounded).  It does NOT hold for corpora that grow by adding COPIES:
    if every document sits in a c-copy duplicate cluster, every
    shingle's df grows with c, the candidate set grows ~c² per cluster
    — and so does the exact OUTPUT itself (all qualifying pairs is
    inherently c² rows per cluster).  For copy-heavy corpora (crawl
    snapshots, mirror-heavy web data) use the MinHash-LSH miner
    (:func:`minhash_near_dup_pairs` / :func:`lsh_candidate_pairs` with
    ``max_bucket=50``): its bucket cap bounds pair work per band no
    matter how many copies collide, and downstream dedup needs cluster
    membership (connected components), not every exact pair.
    """
    from pyspark.sql import Window

    t = F.lit(threshold_micro)
    # One shingling pass, cached: the (id, array, size) relation feeds the
    # df counts, the ranking, and both verification sides.  Callers/bench
    # release with clearCache(); at 100 TB swap for a checkpoint or a
    # temp-table write.
    sh_arr = (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(text_col), n).alias("arr"),
        )
        .withColumn("n", F.size("arr"))
        .cache()
    )
    toks = sh_arr.select("id", "n", F.explode("arr").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(dfreq, "tok").withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("df", "tok"))
    )
    # prefix length = n - ceil(t*n) + 1, all in integer micro arithmetic
    pre = ranked.filter(
        F.col("rn")
        <= F.col("n") - F.expr(f"({threshold_micro} * n + 999999) div 1000000") + 1
    ).select("id", "tok", "n")
    # r12: ``pre`` feeds BOTH sides of the candidate self-join; uncached,
    # the whole prefix build (explode + df-count aggregate + per-doc
    # rarity window) executes twice — once per alias (guide §5: cache
    # when reused and recompute is expensive; interleaved A/B at sf0.1:
    # 13.1s -> 5.8s best-of-3).
    pre = pre.cache()
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # PPJoin length filter: J >= t forces min/max size ratio >= t
            & (
                F.least(F.col("a.n"), F.col("b.n")) * 1_000_000
                >= t * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    arr_a = sh_arr.select(
        F.col("id").alias("id_a"), F.col("arr").alias("arr_a"), F.col("n").alias("na")
    )
    arr_b = sh_arr.select(
        F.col("id").alias("id_b"), F.col("arr").alias("arr_b"), F.col("n").alias("nb")
    )
    return (
        cand.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_common"))
        .filter(F.col("n_common") * 1_000_000 >= t * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_union").cast("long").alias("n_union"),
            F.expr("(CAST(n_common AS BIGINT) * 1000000) div n_union").alias(
                "jaccard_micro"
            ),
        )
    )
