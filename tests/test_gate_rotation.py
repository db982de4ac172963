"""Driver-gate rotation (__spark_entry__._ordered_names): never-green
queries first, then green-but-source-changed (helper-aware fingerprint
mismatch), then green-and-unchanged ordered OLDEST green round first —
so a rewritten query re-enters the bounded verification window instead
of coasting on a stale green row (round-6 verdict, "What's wrong #2"),
and the whole registry recycles through the window every few rounds
(round-7 verdict, "What's wrong #4")."""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(HERE, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_fingerprint_is_deterministic_and_two_part():
    from tansu_spark.queries import QUERIES, fingerprint

    name = next(iter(QUERIES))
    fp = fingerprint(name)
    assert re.fullmatch(r"[0-9a-f]{16}\.[0-9a-f]{16}", fp)
    assert fingerprint(name) == fp  # stable across calls
    # Distinct queries hash distinctly (source text differs).
    names = list(QUERIES)[:20]
    assert len({fingerprint(n) for n in names}) == len(names)


def test_reachable_helpers_sees_shared_kernels_and_local_imports():
    """The round-7 gap: helper rewrites in OTHER modules didn't move any
    fingerprint. The closure must capture (a) module-level helper
    functions (`pipeline._winnow_fps`), (b) modules referenced through
    globals (`functions.similarity` for the sim family), and (c)
    function-LOCAL `from tansu_spark.x import y` imports, whose dotted
    module path sits in co_names (`streaming.source` for the streaming
    state queries)."""
    from tansu_spark.queries import QUERIES, _reachable_helpers

    fns, _, _ = _reachable_helpers(QUERIES["dedup_winnowing_fingerprints"])
    assert any(getattr(f, "__qualname__", "") == "_winnow_fps" for f in fns)

    _, mods, _ = _reachable_helpers(QUERIES["sim_ivf_ann_topk"])
    assert "tansu_spark.functions.similarity" in mods

    _, mods, _ = _reachable_helpers(QUERIES["streaming_hll_state"])
    assert "tansu_spark.streaming.source" in mods
    # ... and transitively the sketch kernels streaming/source.py imports.
    assert "tansu_spark.functions.sketch" in mods

    _, mods, _ = _reachable_helpers(QUERIES["lake_restore_version"])
    assert "tansu_spark.lake.snapshots" in mods

    # (d) `from tansu_spark.pkg import module as X` inside the function:
    # co_names holds only the package, yet edits to the module must count.
    _, mods, _ = _reachable_helpers(QUERIES["sim_ivfpq_topk_seeded"])
    assert "tansu_spark.functions.pq" in mods
    _, mods, _ = _reachable_helpers(QUERIES["text_kneser_ney_lm"])
    assert "tansu_spark.functions.text" in mods


def test_ordered_names_is_a_permutation_of_the_registry(entry_mod):
    from tansu_spark.queries import QUERIES

    ordered = entry_mod._ordered_names()
    assert sorted(ordered) == sorted(QUERIES)


def test_changed_band_sorts_between_unverified_and_fresh(entry_mod, monkeypatch):
    from tansu_spark.queries import QUERIES

    names = list(QUERIES)
    never, changed_one, fresh_rest = names[0], names[1], names[2:]
    monkeypatch.setattr(
        entry_mod,
        "_latest_green_round",
        lambda: {n: 6 for n in names if n != never},
    )
    monkeypatch.setattr(
        entry_mod, "_changed_since_green", lambda latest: {changed_one}
    )
    ordered = entry_mod._ordered_names()
    assert ordered.index(never) < ordered.index(changed_one)
    assert all(ordered.index(changed_one) < ordered.index(n) for n in fresh_rest[:5])


def test_fresh_band_orders_oldest_green_first(entry_mod, monkeypatch):
    """Band 3 must recycle by green AGE: with no new/changed entries, the
    window re-verifies the longest-unverified queries, not the registry
    front, so all entries cycle through every ~4 rounds."""
    from tansu_spark.queries import QUERIES

    names = list(QUERIES)
    rounds = {n: (i % 5) + 1 for i, n in enumerate(names)}
    monkeypatch.setattr(entry_mod, "_latest_green_round", lambda: rounds)
    monkeypatch.setattr(entry_mod, "_changed_since_green", lambda latest: set())
    ordered = entry_mod._ordered_names()
    assert [rounds[n] for n in ordered] == sorted(rounds.values())


def test_fresh_band_leads_with_oldest_green_on_real_artifacts(entry_mod):
    """With the real CORRECTNESS_r*.json history: the head of the order
    must be at least as stale (green-round-wise) as anything later in
    the fresh band."""
    lg = entry_mod._latest_green_round()
    ordered = entry_mod._ordered_names()
    fresh = [n for n in ordered if n in lg]
    stale = entry_mod._changed_since_green(lg)
    fresh = [n for n in fresh if n not in stale]
    fresh_rounds = [lg[n] for n in fresh]
    assert fresh_rounds == sorted(fresh_rounds)


def test_changed_since_green_reads_fingerprint_sidecar(entry_mod, monkeypatch):
    """A recorded fingerprint differing from the current one flags the
    query; an identical one doesn't. Legacy single-part entries compare
    against the fn part alone; zero-padded round keys normalize; a green
    round with no sidecar entry falls back to the earliest LATER
    snapshot that has one."""
    import json

    from tansu_spark.queries import QUERIES, fingerprint

    a, b, c, d, e = list(QUERIES)[:5]
    sidecar = {
        # zero-padded key must still match green round 6
        "06": {
            a: "0" * 16,                      # legacy, mismatched -> changed
            b: fingerprint(b).split(".")[0],  # legacy, fn part matches -> ok
            d: fingerprint(d),                # two-part, matches -> ok
        },
        "7": {
            # c went green in round 5 (no snapshot) -> compared against
            # this later snapshot; mismatch proves change after r7 close.
            c: "f" * 16 + "." + "f" * 16,
        },
    }

    real_load = json.load

    def fake_load(f):
        if getattr(f, "name", "").endswith("gate_fingerprints.json"):
            return sidecar
        return real_load(f)

    monkeypatch.setattr(json, "load", fake_load)
    changed = entry_mod._changed_since_green({a: 6, b: 6, c: 5, d: 6, e: 5})
    assert changed == {a, c}


def test_retired_entry_in_green_history_does_not_break_the_gate(entry_mod):
    """A query retired from the registry (round-8: dedup_semantic_cluster)
    still has green rows in CORRECTNESS_r*.json history. The gate must
    skip it, not KeyError out of queries()/oracle_sql() — that failure
    mode broke the driver smoke check at round-8 open."""
    from tansu_spark.queries import QUERIES

    lg = entry_mod._latest_green_round()
    lg["__retired_query_never_in_registry__"] = 3
    changed = entry_mod._changed_since_green(lg)
    assert "__retired_query_never_in_registry__" not in changed
    # Historical real retirement: green history exists, registry row gone.
    assert "dedup_semantic_cluster" not in QUERIES
    assert entry_mod._latest_green_round().get("dedup_semantic_cluster")
    names = entry_mod._ordered_names()
    assert "dedup_semantic_cluster" not in names
    assert len(names) == len(QUERIES)
