"""Product quantization (IVF-PQ's compression half): encode each vector
as n_sub one-byte codes against per-subspace codebooks, then serve
approximate top-k through code-indexed lookup tables.

This is the billion-vector ANN storage/serving path (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search"): a 64-dim f32 vector
(256 B) becomes 8 codes (8 B) + one stored norm — 32x smaller, and query
scoring never touches the original vectors. Reference parity: the
reference has no vector search at all (SURVEY §2 — extension territory);
this rounds out the similarity suite: brute force (exact) → LSH / IVF
(prune the scan) → PQ (shrink the bytes).

Scale design:
- Training: Lloyd iterations with decimal-exact means (bit-reproducible
  on any partitioning) and optional deterministic hash-sample training.
  The model lives as a broadcastable TABLE (sub, code, cvec, bias), not
  as literal expressions: assignment is a broadcast join + max-struct
  partial agg, so the plan stays constant-size in n_sub x n_codes
  (giant literal trees fall out of whole-stage codegen — measured 3x
  slower at 8x16 codes than the join form).
- Encoding: the same broadcast-join assignment, packed to a code array
  per vector plus its stored norm.
- Serving (asymmetric distance): per query, an n_sub x n_codes lookup
  table (LUT) of subvector dot products is a DATAFLOW (`lut_table_df`:
  queries joined to the broadcast codebook table — no driver collect);
  corpus-side each candidate's codes join the broadcast LUT and the
  per-sub dots fold in sub order (`_adc_scores`), reading 8 bytes of
  codes instead of 256 bytes of floats. approx_cosine = LUT-sum /
  (|q| * stored |x|). With an IVF coarse quantizer in front
  (`ivf_pq_topk_df`), only the probed clusters' codes are scored.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tansu_spark.functions.similarity import (
    _top_k,
    centroid_model_row,
    dot,
    nearest_centroids,
    norm,
)
from tansu_spark.materialize import corpus_checkpoint


def _py_sumsq(v) -> float:
    """Left-fold sum of squares in f64 — the exact arithmetic DuckDB's
    list_reduce over x*x performs (no sqrt round trip)."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return acc

Codebook = list[tuple[int, list[float]]]


def _subvec(vec_col: str, s: int, d: int):
    """Subspace s as a d-dim slice (slice() is 1-based)."""
    return F.slice(F.col(vec_col), s * d + 1, d)


def _exploded_subvecs(
    corpus: DataFrame, id_col: str, vec_col: str, n_sub: int, d: int
) -> DataFrame:
    """(id, sub, sv): one row per (vector, subspace). Map-only."""
    return corpus.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[_subvec(vec_col, s, d) for s in range(n_sub)])
        ).alias("sub", "sv"),
    )


def _books_df(spark, books: list[Codebook]):
    """The codebooks as a broadcastable table (sub, code, cvec, bias) with
    bias = |c|^2/2, so argmax(dot - bias) == argmin L2. Keeping the model
    as DATA instead of literal expressions keeps the plan CONSTANT-SIZE
    in n_sub x n_codes — giant literal trees fall out of whole-stage
    codegen and cost seconds per fresh plan."""
    rows = [
        # bias = half the DIRECT sum of squares (not 0.5*norm**2 — the
        # sqrt-then-square round trip is ~1 ULP off the fold the oracle
        # computes, and a 1-ULP bias skew can flip an argmax near ties).
        (s, cid, [float(x) for x in v], 0.5 * _py_sumsq(v))
        for s, book in enumerate(books)
        for cid, v in book
    ]
    return spark.createDataFrame(
        rows, "sub int, code long, cvec array<double>, bias double"
    )


def _assign_codes(sub_df: DataFrame, books_df: DataFrame, id_col: str) -> DataFrame:
    """(id, sub, code): nearest code per subspace. Broadcast join + one
    partial-agg max-struct shuffle on (id, sub); ties -> lowest code id."""
    scored = sub_df.join(F.broadcast(books_df), "sub").select(
        id_col,
        "sub",
        "code",
        (dot("sv", "cvec") - F.col("bias")).alias("s"),
    )
    best = scored.groupBy(id_col, "sub").agg(
        F.max(F.struct(F.col("s"), (-F.col("code")).alias("nc"))).alias("b")
    )
    return best.select(id_col, "sub", (-F.col("b.nc")).alias("code"))


def train_codebooks(
    corpus: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_frac: float | None = None,
) -> list[Codebook]:
    """One L2 Lloyd run per subspace over the (optionally hash-sampled)
    corpus. Codebook ids are the seed ids; empty codes keep their
    previous centroid — same reproducibility contract as
    similarity.kmeans_centroids. The vector width comes from the seeds."""
    if train_frac is not None and train_frac < 1.0:
        from tansu_spark.functions.sampling import hash_sample

        corpus = hash_sample(corpus, id_col, train_frac)
    # Seeds = the n_codes lowest-id rows OF THE TRAINING SET (a plain
    # `id < n_codes` filter under-seeds when the set is a hash-sample).
    seed_rows = sorted(
        (r[0], list(r[1]))
        for r in corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    )
    width = len(seed_rows[0][1])
    if width % n_sub:
        raise ValueError(f"vector width {width} not divisible by n_sub {n_sub}")
    d = width // n_sub
    books: list[Codebook] = [
        [(cid, v[s * d : (s + 1) * d]) for cid, v in seed_rows] for s in range(n_sub)
    ]
    sub_df = _exploded_subvecs(corpus, id_col, vec_col, n_sub, d).transform(corpus_checkpoint)
    for _ in range(n_iter):
        # Assignment = broadcast join vs the codebook TABLE (constant
        # plan size), then ONE shuffle computes every book's means.
        codes = _assign_codes(sub_df, _books_df(corpus.sparkSession, books), id_col)
        rows = (
            codes.join(sub_df, [id_col, "sub"])
            .select("sub", "code", F.posexplode("sv").alias("dim", "x"))
            .groupBy("sub", "code", "dim")
            .agg(F.avg(F.col("x").cast("decimal(28,12)")).alias("m"))
            .collect()
        )
        new: list[dict[int, list[float]]] = [{} for _ in range(n_sub)]
        for r in rows:
            new[r["sub"]].setdefault(r["code"], [0.0] * d)[r["dim"]] = float(r["m"])
        books = [
            [(cid, new[s].get(cid, vec)) for cid, vec in book]
            for s, book in enumerate(books)
        ]
    return books


def seeded_books_df(
    seeds: DataFrame,
    n_sub: int = 8,
    d: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The seeded codebooks as a DATAFLOW (sub, code, cvec array<double>,
    bias): each seed row contributes one codeword per subspace (its d-dim
    slice), bias = |c|^2/2 via the same f64 left fold the oracle's
    list_reduce performs. No collect — the 128-row table stays
    distributed and broadcasts where consumed (the r7 zero-collect
    rework; the old path collected seeds with a takeOrdered job)."""

    def _sq(acc, e):
        return acc + e * e

    sub_struct = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.transform(
                    _subvec(vec_col, s, d), lambda e: e.cast("double")
                ).alias("cvec"),
            )
            for s in range(n_sub)
        ]
    )
    return (
        seeds.select(F.col(id_col).cast("long").alias("code"), sub_struct.alias("_s"))
        .select("code", F.explode("_s").alias("sc"))
        .select(
            F.col("sc.sub").alias("sub"),
            "code",
            F.col("sc.cvec").alias("cvec"),
            (
                F.lit(0.5) * F.aggregate(F.col("sc.cvec"), F.lit(0.0), _sq)
            ).alias("bias"),
        )
        # Materialized ONCE (optimization r10): every consumer pattern
        # (books_model_row broadcast + the LUT join, and for IVFADC the
        # residual pipeline feeding the seeds) otherwise replicates the
        # whole upstream subtree under each consumption — 18 static
        # corpus scans in sim_ivfpq_residual_topk's audit plan. The
        # table is n_sub x n_codes rows (~128) — one sub-second job.
        # Still zero collects.
        .localCheckpoint(eager=True)
    )


def books_model_row(books_df: DataFrame) -> DataFrame:
    """Collapse a codebook table to ONE row `_books`:
    array[sub] of array of struct<code, cvec, bias>, code-sorted within
    each subspace — the broadcast single-row model per-corpus-row code
    assignment indexes into (same pattern as
    similarity.centroid_model_row; plan size constant in n_sub x
    n_codes, zero collects)."""
    per_sub = books_df.groupBy("sub").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("code").cast("long").alias("code"), "cvec", "bias"
                )
            )
        ).alias("bk")
    )
    return (
        per_sub.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("sub", "bk"))).alias("_sb"))
        .select(F.transform("_sb", lambda x: x["bk"]).alias("_books"))
    )


def model_row_codes(vec_col, n_sub: int, d: int):
    """array<long> of per-subspace nearest-code ids against the attached
    `_books` model-row column: per sub, argmax over codes of
    (dot(subvec, cvec) - bias) with ties to the LOWEST code id — the
    same score and tie order as `_assign_codes` / the DuckDB oracle
    (f64 left-fold dot, precomputed bias), evaluated map-side with no
    explode, no join, no shuffle. `vec_col` may be a column name or a
    Column expression (e.g. a residual zip_with for IVFADC)."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: -F.array_max(
            F.transform(
                F.get("_books", s),
                lambda cb: F.struct(
                    (dot(F.slice(col, s * d + 1, d), cb["cvec"]) - cb["bias"]).alias(
                        "sc"
                    ),
                    (-cb["code"]).alias("nc"),
                ),
            )
        ).getField("nc"),
    )


def lut_table_df(
    queries: DataFrame,
    books_df: DataFrame,
    d: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ADC lookup tables as a DATAFLOW (query_id, sub, code, dot, qn):
    queries join the broadcast codebook table and each (query, sub,
    code) row computes dot(query subvector, codeword) with the f64 left
    fold the DuckDB oracle replays; qn is the query's norm. No driver
    collect, and the plan is constant-size in the number of queries.
    Row count is |Q| x n_sub x n_codes — broadcast-sized by the same
    contract as the query set."""
    return (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            norm(vec_col).alias("qn"),
        )
        .crossJoin(F.broadcast(books_df))
        .select(
            "query_id",
            "sub",
            "code",
            dot(
                F.slice(F.col("_qv"), F.col("sub") * d + 1, d), F.col("cvec")
            ).alias("dot"),
            "qn",
        )
    )


def pq_encode(
    corpus: DataFrame,
    books: list[Codebook],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<long>, vnorm) — the 8-byte-per-vector index plus
    the stored norm the cosine denominator needs. Broadcast-join
    assignment + one max-struct shuffle + one collect_list shuffle; the
    plan is constant-size in n_sub x n_codes."""
    n_sub = len(books)
    d = len(books[0][0][1])
    sub_df = _exploded_subvecs(corpus, id_col, vec_col, n_sub, d)
    codes = _assign_codes(sub_df, _books_df(corpus.sparkSession, books), id_col)
    packed = codes.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda st: st.getField("code"),
        ).alias("codes")
    )
    norms = corpus.select(F.col(id_col), norm(vec_col).alias("vnorm"))
    return packed.join(norms, id_col)


def _adc_scores(
    cand: DataFrame, lut: DataFrame, id_col: str, init: Column
) -> DataFrame:
    """(query_id, id, approx_cosine) for candidate (query_id, id, codes,
    vnorm) rows via the broadcast-LUT join: explode the stored codes
    (map-only), equi-join the LUT on (query_id, sub, code), and fold the
    per-sub dots ORDERED BY sub starting from `init` — init + d0 + ... +
    d7, the IEEE addition sequence the DuckDB oracle replays with
    list_prepend(init, list(sc ORDER BY sub)), so values are
    bit-identical. `init` is 0.0 for plain PQ and the per-probe
    dot(q, centroid) for residual IVFADC. The denominator is the LUT's
    query norm times the stored corpus norm, each floored at 1e-30."""
    exploded = cand.select(
        "query_id",
        id_col,
        "vnorm",
        init.alias("_init"),
        F.posexplode("codes").alias("sub", "code"),
    )
    joined = exploded.join(F.broadcast(lut), ["query_id", "sub", "code"])
    num = joined.groupBy("query_id", id_col).agg(
        F.array_sort(F.collect_list(F.struct("sub", "dot"))).alias("_l"),
        F.first("_init").alias("_init"),
        F.first("qn").alias("qn"),
        F.first("vnorm").alias("vnorm"),
    )
    return num.select(
        "query_id",
        id_col,
        (
            F.aggregate("_l", F.col("_init"), lambda acc, x: acc + x.getField("dot"))
            / (
                F.greatest(F.col("qn"), F.lit(1e-30))
                * F.greatest(F.col("vnorm"), F.lit(1e-30))
            )
        ).alias("approx_cosine"),
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    books: list[Codebook],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k per query over the ENCODED corpus
    (asymmetric distance: original query vector vs quantized corpus).
    The queries' LUT is ONE broadcast table keyed by (query_id, sub,
    code), built by a join with no driver collect; every (query, corpus
    vector) pair is a candidate — the broadcast query ids cross the
    encoded corpus, whose scan reads 8-byte codes — so the shuffle
    carries ~|Q|x|N| slim rows and the plan is constant-size however
    many queries are served. Output: (query_id, vec_id, approx_cosine)."""
    lut = lut_table_df(
        queries,
        _books_df(encoded.sparkSession, books),
        len(books[0][0][1]),
        id_col,
        vec_col,
    )
    cand = encoded.crossJoin(
        F.broadcast(queries.select(F.col(id_col).alias("query_id")))
    ).filter(F.col(id_col) != F.col("query_id"))
    scored = _adc_scores(cand, lut, id_col, F.lit(0.0))
    return _top_k(scored, k, "query_id", "approx_cosine", id_col).drop("rank")


def ivf_pq_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    cent_df: DataFrame,
    books_df: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_sub: int = 8,
    d: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVF-PQ serving path: the coarse quantizer prunes the
    corpus to each query's n_probe nearest clusters, PQ codes score the
    survivors via lookup tables. At a billion vectors this is the whole
    game: IVF cuts candidates ~n_clusters/n_probe-fold, PQ cuts bytes
    32-fold — the scan that remains reads 8-byte codes from 1/8th of
    the corpus.

    Every model artifact is a dataflow and the query is ONE Spark action
    (r6 verdict "What's wrong #1": a driver-collect shape ran 4 serial
    jobs — seed collect, codebook collect, index checkpoint, query
    collect — that dominated wall time 10x over compute in a contended
    environment). The corpus pass is map-only: cluster (nearest coarse
    centroid via the broadcast centroid model row), codes (per-subspace
    argmax via the broadcast codebook model row), and the stored norm
    are all computed in one projection — the index-build scan — and
    candidates are pruned to the probed clusters by a broadcast
    (query, cluster) join BEFORE any scoring."""
    cents_model = centroid_model_row(cent_df)
    enc = nearest_centroids(
        corpus.select(id_col, vec_col).crossJoin(
            F.broadcast(books_model_row(books_df))
        ),
        cents_model,
        1,
        vec_col,
    ).select(
        F.col(id_col),
        (-F.col("_near")[0]["nid"]).alias("cluster"),
        model_row_codes(vec_col, n_sub, d).alias("codes"),
        F.col("_vn").alias("vnorm"),
    )
    probes = (
        nearest_centroids(queries.select(id_col, vec_col), cents_model, n_probe, vec_col)
        .select(F.col(id_col).alias("query_id"), F.explode("_near").alias("_p"))
        .select("query_id", (-F.col("_p.nid")).alias("cluster"))
    )
    cand = enc.join(F.broadcast(probes), "cluster").filter(
        F.col(id_col) != F.col("query_id")
    )
    lut = lut_table_df(queries, books_df, d, id_col, vec_col)
    scored = _adc_scores(cand, lut, id_col, F.lit(0.0))
    return _top_k(scored, k, "query_id", "approx_cosine", id_col).drop("rank")
