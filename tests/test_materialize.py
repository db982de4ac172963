"""Fault-tolerance materialization audit (r10 verdict "what's wrong" #3 /
ask #6): corpus-sized eager materializations must route through
``materialize.corpus_checkpoint`` so a cluster deployment can switch them
to RELIABLE checkpoints (recoverable after executor loss) with one env
var, while the local default stays ``localCheckpoint`` (bench-comparable,
and the single-node case has no executor-loss hazard)."""

from __future__ import annotations

import re
import shutil
from pathlib import Path

from tansu_spark.materialize import corpus_checkpoint

PKG = Path(__file__).resolve().parent.parent / "tansu_spark"

# Every remaining direct .localCheckpoint( call site in the package must
# be on this list — each is a bounded, MODEL-sized frame (cheap to lose,
# cheap to rebuild), reviewed in OPTIMIZATION_r11.md. A new corpus-sized
# materialization must use corpus_checkpoint instead; adding a direct
# call fails this test until it is classified here.
MODEL_SIZED_ALLOWLIST = {
    "materialize.py": 1,  # the helper's own default path
    "functions/pq.py": 1,  # n_sub x n_codes codebook (~128 rows)
    "functions/sketch.py": 1,  # KMV/HLL registers (bounded by 2^p)
    "queries/analytics.py": 2,  # HLL registers; per-event-type 1-row-per-group
    "queries/similarity.py": 4,  # 16 centroids; 64x64 cov; 64-row vec; 1-row pick
}


def test_every_local_checkpoint_site_is_classified():
    found: dict[str, int] = {}
    for py in PKG.rglob("*.py"):
        rel = str(py.relative_to(PKG))
        n = 0
        for line in py.read_text().splitlines():
            stripped = line.strip()
            if stripped.startswith("#"):
                continue
            n += len(re.findall(r"\.localCheckpoint\(", line))
        if n:
            found[rel] = n
    assert found == MODEL_SIZED_ALLOWLIST, (
        "unclassified .localCheckpoint sites — corpus-sized frames must "
        f"use corpus_checkpoint (see materialize.py): {found}"
    )


def test_corpus_checkpoint_local_default_and_reliable_switch(
    spark, tmp_path, monkeypatch
):
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    expect = {(r.id, r.v) for r in df.collect()}

    # Default: localCheckpoint — no checkpoint files written anywhere.
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local = corpus_checkpoint(df)
    assert {(r.id, r.v) for r in local.collect()} == expect

    # Env set: a RELIABLE checkpoint lands under the directory and the
    # frame is content-identical.
    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    reliable = corpus_checkpoint(df)
    assert {(r.id, r.v) for r in reliable.collect()} == expect
    assert any(ckpt.rglob("*")), "reliable checkpoint wrote no files"


def test_session_cache_hits_reliable_checkpoint_until_its_file_is_gone(
    spark, tmp_path, monkeypatch
):
    """ADVICE (materialize.py:50): reliable checkpoints never enter the
    persistent-RDD registry, so a registry-only probe missed on every
    get and re-ran corpus-sized builds per consumer. The probe must count
    an existing checkpoint file as healthy, and rebuild once it is gone;
    the session must clean unreachable checkpoint files."""
    from urllib.parse import urlparse

    from tansu_spark.queries._session_cache import SessionCheckpointCache

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    builds = []

    def build():
        builds.append(1)
        return spark.range(0, 100).transform(corpus_checkpoint)

    cache = SessionCheckpointCache("test_reliable_checkpoint")
    try:
        first = cache.get(spark, ("k",), build)
        for _ in range(2):
            assert cache.get(spark, ("k",), build) is first
        assert len(builds) == 1

        ckpt_file = first._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        assert ckpt_file.isDefined(), "corpus_checkpoint was not reliable"
        shutil.rmtree(urlparse(ckpt_file.get()).path)
        second = cache.get(spark, ("k",), build)
        assert len(builds) == 2 and second is not first
        assert second.count() == 100
    finally:
        SessionCheckpointCache._instances.remove(cache)
