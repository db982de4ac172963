"""Stage-level row-count attribution for the near-boundary SCALING.md
entries (r8 verdict ask #1): for each query whose sf0.1→sf1 wall ratio
sits in the 6–10x band, count the rows of its load-bearing intermediate
stages at BOTH scales. The question each table answers: did the DATA
grow ~10x while every derived stage stayed within its disclosed bound
(ratio = fixed-cost amortization, case closed), or did some stage grow
superlinearly (name it, fix it)?

The stage tables are the same dataflows the queries run — either the
queries' own shared helpers (`_winnow_fps_cached`, `_chunk_shingle_rows`,
`_dedup_chain`) or the identical public building blocks
(`lsh_bands`, `centroid_model_row`/`nearest_centroids`) — so the counts
are the rows the real plans shuffle, not estimates.

Run: python tools/stage_attribution.py            (sf0.1 + sf1, ~10 min)
     python tools/stage_attribution.py --sf 0.01  (quick single-SF check)

Writes/updates the '## Stage attribution' section of SCALING.md
(preserved by tools/scale_sweep.py regeneration) and prints the table.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "testdata_big", "sf1")

SECTION_HEADER = "## Stage attribution"


def _stages_winnowing(spark, sf_dir):
    """dedup_winnowing_fingerprints (sf1 9.89x — the boundary case).
    Disclosed bound: candidate pair rows <= 24.5 x kept fingerprints
    (df<=50 applied BEFORE pair generation). `pair_bound_used` is the
    fraction of that ceiling actually consumed — the saturation number
    the r8 verdict asked for."""
    from pyspark.sql import functions as F

    from tansu_spark.queries.pipeline import _winnow_fps_cached
    from tansu_spark.tables import load

    out = []
    out.append(("documents", load(spark, sf_dir, "documents").count()))
    fps = _winnow_fps_cached(spark, sf_dir)
    out.append(("fingerprints (distinct doc,h)", fps.count()))
    df_tab = fps.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    r = (
        df_tab.agg(
            F.sum(F.when(F.col("df") <= 50, F.col("df")).otherwise(0)).alias(
                "kept"
            ),
            F.sum(
                F.when(
                    F.col("df") <= 50, F.col("df") * (F.col("df") - 1) / 2
                ).otherwise(0)
            )
            .cast("long")
            .alias("cand_pairs"),
            F.sum(F.when(F.col("df") > 50, F.col("df")).otherwise(0)).alias(
                "dropped_hub_rows"
            ),
        )
    ).collect()[0]
    out.append(("kept fp rows (df<=50)", int(r["kept"])))
    out.append(("hub fp rows dropped (df>50)", int(r["dropped_hub_rows"])))
    out.append(("candidate pair rows (sum C(df,2))", int(r["cand_pairs"])))
    out.append(
        (
            "pair_bound_used (pairs / 24.5*kept)",
            round(int(r["cand_pairs"]) / (24.5 * int(r["kept"])), 4),
        )
    )
    from tansu_spark.queries import QUERIES

    out.append(
        ("output pairs (overlap>=0.35)",
         QUERIES["dedup_winnowing_fingerprints"](spark, sf_dir).count())
    )
    return out


def _stages_chunk_minhash(spark, sf_dir):
    """dedup_chunk_minhash (sf1 7.65x). Candidate pairs are the in-bucket
    expansion sum C(bucket,2) over (band, band_sig) buckets — computed
    from the identical lsh_bands table the query groups."""
    from pyspark.sql import functions as F

    from tansu_spark.functions.dedup import lsh_bands
    from tansu_spark.queries import QUERIES
    from tansu_spark.queries.pipeline import _chunk_shingle_rows

    out = []
    e = _chunk_shingle_rows(spark, sf_dir).localCheckpoint(eager=True)
    out.append(("shingle rows (chunk-grain explode)", e.count()))
    out.append(("chunks", e.select("cid").distinct().count()))
    sig = e.groupBy("cid").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(str(k)), F.lit(":"), F.col("s")))
            ).alias(f"mh{k}")
            for k in range(8)
        ]
    )
    bands = lsh_bands(sig, "cid")
    r = (
        bands.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("cp"),
            F.max("n").alias("max_bucket"),
        )
        .collect()[0]
    )
    out.append(("candidate pair rows (sum C(bucket,2))", int(r["cp"])))
    out.append(("largest bucket", int(r["max_bucket"])))
    out.append(
        ("output cross-doc pairs",
         QUERIES["dedup_chunk_minhash"](spark, sf_dir).count())
    )
    return out


def _stages_kneser_ney(spark, sf_dir):
    """text_kneser_ney_lm (sf1 7.59x). The scale axes: bigram INSTANCES
    (linear in tokens by construction) vs distinct bigram TYPES (the
    model build+join side, sublinear for natural text)."""
    from pyspark.sql import functions as F

    from tansu_spark.functions import text as T
    from tansu_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens("text").alias("t"))
    bi = toks.select(
        "doc_id", F.explode(T.bigrams("t")).alias("bg")
    ).localCheckpoint(eager=True)
    out = []
    out.append(("documents", docs.count()))
    out.append(("bigram instances (score side)", bi.count()))
    ms = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    out.append(("distinct bigram types (model rows)", ms.count()))
    out.append(
        (
            "distinct contexts w1 (ctx rows)",
            ms.select(F.substring_index("bg", " ", 1)).distinct().count(),
        )
    )
    return out


def _stages_capstone(spark, sf_dir):
    """pipeline_curation_capstone (sf1 7.14x). The query's OWN output is
    per-stage survivor accounting; add the shared chain's intermediate
    tables (the only corpus-superlinear risk surface)."""
    from tansu_spark.queries import QUERIES
    from tansu_spark.queries.pipeline import _dedup_chain

    out = []
    chain = _dedup_chain(spark, sf_dir)
    out.append(("chain shingle rows (sh)", chain["sh"].count()))
    out.append(("chain LSH candidate pairs", chain["pairs"].count()))
    out.append(("chain verified pairs (J>=0.5)", chain["verified"].count()))
    out.append(("chain CC node rows", chain["cc"].count()))
    for row in (
        QUERIES["pipeline_curation_capstone"](spark, sf_dir)
        .orderBy("stage_order")
        .collect()
    ):
        label = f"stage {row['stage_order']} {row['stage']}: docs_out"
        if row["stage"] == "temperature_plan":
            # stage 8's number is allocated TOKENS against the query's
            # fixed 100k budget — flat across SFs by design, not a
            # masked stage (the budget is the product spec).
            label = (
                f"stage {row['stage_order']} {row['stage']}: "
                "alloc tokens (fixed 100k budget)"
            )
        out.append((label, int(row["docs_out"])))
    return out


def _ivf_probe_rows(emb, model):
    """(probe rows, scored candidate rows) when queries vec_id < 8 probe
    their 2 nearest clusters of the centroid `model` row: the corpus
    assignment and the probe set come from the queries' own
    `nearest_centroids` helper, so the counts are the rows the real
    plans join."""
    from pyspark.sql import functions as F

    from tansu_spark.functions import similarity as S

    csz = (
        S.nearest_centroids(emb.select("vec_id", "embedding"), model, 1)
        .groupBy((-F.col("_near")[0]["nid"]).alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = (
        S.nearest_centroids(
            emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding"), model, 2
        )
        .select(F.col("vec_id").alias("query_id"), F.explode("_near").alias("_p"))
        .select("query_id", (-F.col("_p.nid")).alias("cluster"))
    )
    scored = (
        probes.join(csz, "cluster")
        .agg(F.sum("n").cast("long").alias("s"))
        .collect()[0]["s"]
    )
    return probes.count(), int(scored)


def _seed_model(emb):
    """The seeded quantizer's model row: the 16 lowest-id vectors."""
    from pyspark.sql import functions as F

    from tansu_spark.functions import similarity as S

    return S.centroid_model_row(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_vec")
        )
    )


def _stages_ivfpq_residual(spark, sf_dir):
    """sim_ivfpq_residual_topk (sf1 7.22x). Serving cost = encoded corpus
    rows (one ADC row per vector) + the scored subset: rows of the 2
    probed clusters per query."""
    from tansu_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    n_probes, scored = _ivf_probe_rows(emb, _seed_model(emb))
    return [
        ("embeddings (encoded ADC rows)", emb.count()),
        ("probe rows (8 queries x 2 clusters)", n_probes),
        ("scored candidate rows (probed-cluster members)", scored),
    ]


def _stages_power_iteration(spark, sf_dir):
    """embeddings_power_iteration_pc (sf1 6.66x). Per-row work is a
    constant d(d+1)/2 = 2080 outer-product terms (d=64); the Gram
    shuffle output is a FIXED 2080 rows regardless of n, and each of the
    3 iterations is one corpus scan + a 64-row aggregate. The only
    n-proportional stage is the scan itself."""
    from tansu_spark.tables import load

    n = load(spark, sf_dir, "embeddings").count()
    return [
        ("embeddings (rows per scan; 1 mean + 1 Gram + 3 iter scans)", n),
        ("outer-product terms emitted (n x 2080, map-side)", n * 2080),
        ("Gram shuffle output rows (fixed d(d+1)/2)", 2080),
    ]


def _stages_rake(spark, sf_dir):
    """text_rake_phrases (7.10x on the regenerated honest-cipher sweep —
    r9 verdict ask #3). Linear axes: phrase rows and word-grain rows
    (the two explodes) plus the two agg grains (doc,word) / (doc,pid);
    output is pinned <= 3 per document. Counts come from the query's own
    _rake_frames helper — the rows the real plan shuffles."""
    from tansu_spark.queries import QUERIES
    from tansu_spark.queries.pipeline import _rake_frames

    frames = _rake_frames(spark, sf_dir)
    from tansu_spark.tables import load

    return [
        ("documents", load(spark, sf_dir, "documents").count()),
        ("phrase rows (ph explode)", frames["ph"].count()),
        ("word-grain rows (pw explode)", frames["pw"].count()),
        ("word-score rows (doc,word groups)", frames["ws"].count()),
        ("phrase-score rows (doc,pid groups)", frames["ps"].count()),
        ("output rows (top-3 per doc)",
         QUERIES["text_rake_phrases"](spark, sf_dir).count()),
    ]


def _stages_kmeans_trained(spark, sf_dir):
    """sim_kmeans_trained_topk (6.33x on the regenerated sweep — r9
    verdict ask #3). The scale axes: training assignment rows (one per
    corpus vector), trained centroid rows (FIXED 16), and the serving
    probe candidates (members of the 2 probed clusters for each of the
    8 queries). Replicates the query's own seeded-init + one-Lloyd-round
    trained model via the same public helpers."""
    from pyspark.sql import functions as F

    from tansu_spark.functions import similarity as S
    from tansu_spark.queries import QUERIES
    from tansu_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    assign0 = S.nearest_centroids(
        emb.select("vec_id", "embedding"), _seed_model(emb), 1
    ).select("embedding", (-F.col("_near")[0]["nid"]).alias("cluster"))
    tcent = S.lloyd_means_df(assign0)
    n_probes, scored = _ivf_probe_rows(emb, S.centroid_model_row(tcent))
    return [
        ("embeddings (train assignment rows)", emb.count()),
        ("trained centroid rows (fixed)", tcent.count()),
        ("probe rows (8 queries x 2 clusters)", n_probes),
        ("scored candidate rows (probed-cluster members)", scored),
        ("output rows (8 x top-5)",
         QUERIES["sim_kmeans_trained_topk"](spark, sf_dir).count()),
    ]


def _stages_ivf_ann(spark, sf_dir):
    """sim_ivf_ann_topk (8.51x on the r10 quiet sweep — boundary wobble
    from r9's 5.72x). Same SEEDED quantizer and 2-probe serving shape as
    sim_ivfpq_residual_topk: the scale axes are the corpus assignment
    rows (one per vector) and the probed-cluster candidate rows; the
    model stays a fixed 16-row broadcast."""
    from tansu_spark.queries import QUERIES
    from tansu_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    n_probes, scored = _ivf_probe_rows(emb, _seed_model(emb))
    return [
        ("embeddings (assignment rows)", emb.count()),
        ("seed centroid rows (fixed)", 16),
        ("probe rows (8 queries x 2 clusters)", n_probes),
        ("scored candidate rows (probed-cluster members)", scored),
        ("output rows (8 x top-5)",
         QUERIES["sim_ivf_ann_topk"](spark, sf_dir).count()),
    ]


FAMILIES = [
    ("dedup_winnowing_fingerprints", _stages_winnowing),
    ("dedup_chunk_minhash", _stages_chunk_minhash),
    ("text_kneser_ney_lm", _stages_kneser_ney),
    ("pipeline_curation_capstone", _stages_capstone),
    ("sim_ivfpq_residual_topk", _stages_ivfpq_residual),
    ("embeddings_power_iteration_pc", _stages_power_iteration),
    ("text_rake_phrases", _stages_rake),
    ("sim_kmeans_trained_topk", _stages_kmeans_trained),
    ("sim_ivf_ann_topk", _stages_ivf_ann),
]


def main() -> None:
    from tansu_spark.harness import release, timed
    from tansu_spark.session import get_spark

    spark = get_spark(app_name="tansu-stage-attribution")
    spark.sparkContext.setLogLevel("ERROR")

    if "--sf" in sys.argv:
        dirs = [f"/root/testdata/sf{sys.argv[sys.argv.index('--sf') + 1]}"]
        labels = [os.path.basename(dirs[0])]
    else:
        dirs = [SF01, SF1]
        labels = ["sf0.1", "sf1"]

    results: dict[str, dict[str, dict[str, float]]] = {}
    walls: dict[str, dict[str, float]] = {}
    for d, lab in zip(dirs, labels):
        for qname, fn in FAMILIES:
            release(spark)
            stages: list = []
            walls.setdefault(qname, {})[lab], _ = timed(
                spark, qname, lambda: stages.extend(fn(spark, d))
            )
            for stage, val in stages:
                results.setdefault(qname, {}).setdefault(stage, {})[lab] = val
            print(f"{lab} {qname} done {walls[qname][lab]:.1f}s", flush=True)

    lines = [
        SECTION_HEADER + " (r9 ask #1; r10 adds text_rake_phrases,"
        " sim_kmeans_trained_topk, sim_ivf_ann_topk)",
        "",
        "Per-stage ROW COUNTS for every SCALING.md entry whose second-decade",
        "(sf0.1→sf1) wall ratio sat in the 6–10x band, generated by",
        "`python tools/stage_attribution.py`. These are the rows the real",
        "plans materialize/shuffle (computed with the queries' own helpers),",
        "not estimates. Reading: data stages growing ~10x with every derived",
        "stage inside its disclosed bound = the wall ratio was fixed-cost",
        "amortization; any stage ratio >> 10x = a superlinear term, to be",
        "named and fixed.",
        "",
    ]
    for qname, _ in FAMILIES:
        lines.append(f"### {qname}")
        lines.append("")
        hdr = "| stage | " + " rows | ".join(labels) + " rows | ratio |"
        lines.append(hdr)
        lines.append("|---|" + "---|" * (len(labels) + 1))
        for stage, vals in results[qname].items():
            cells = [
                (f"{vals[lab]:,}" if isinstance(vals.get(lab), int) else str(vals.get(lab, "—")))
                for lab in labels
            ]
            if len(labels) == 2 and all(lab in vals for lab in labels) and vals[labels[0]]:
                ratio = f"{vals[labels[1]] / vals[labels[0]]:.2f}x"
            else:
                ratio = "—"
            lines.append(f"| {stage} | " + " | ".join(cells) + f" | {ratio} |")
        w = walls[qname]
        lines.append(
            "| _attribution wall_ | "
            + " | ".join(f"{w[lab]:.1f}s" for lab in labels)
            + " | — |"
        )
        lines.append("")

    block = "\n".join(lines).rstrip() + "\n"
    path = os.path.join(REPO, "SCALING.md")
    txt = open(path).read()
    if SECTION_HEADER in txt:
        start = txt.index(SECTION_HEADER)
        # replace up to the next section header after ours
        rest = txt[start + len(SECTION_HEADER):]
        nxt = rest.find("\n## ")
        end = start + len(SECTION_HEADER) + (nxt + 1 if nxt != -1 else len(rest))
        txt = txt[:start] + block + "\n" + txt[end:]
    elif "## Pitfall" in txt:
        i = txt.index("## Pitfall")
        txt = txt[:i] + block + "\n" + txt[i:]
    else:
        txt = txt.rstrip() + "\n\n" + block
    with open(path, "w") as f:
        f.write(txt)
    print(f"updated {path}")


if __name__ == "__main__":
    main()
