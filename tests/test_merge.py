"""Row-level MERGE INTO semantics (lake/merge.py): upsert/insert/delete,
CDC sequence resolution, Delta's duplicate-match error, and the two scale
invariants — untouched buckets are never rewritten, and fully-deleted
buckets do not leak stale files."""

from __future__ import annotations

import os

import pytest

from tansu_spark.lake.merge import DELETE, UPSERT, MergeTable


def _table(spark, tmp_path, n_buckets=4):
    t = MergeTable(spark, str(tmp_path / "t"), ["id"], n_buckets=n_buckets)
    base = spark.createDataFrame(
        [(i, f"v{i}", i * 10.0) for i in range(20)], "id long, name string, x double"
    )
    t.write_full(base)
    return t


def _rows(t):
    return {r["id"]: (r["name"], r["x"]) for r in t.read().collect()}


def _changes(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, x double, _op string")


def test_merge_update_insert_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(
        _changes(
            spark,
            [
                (3, "updated", 99.0, UPSERT),   # matched -> update
                (100, "new", 1.0, UPSERT),      # unmatched -> insert
                (5, None, None, DELETE),        # matched -> delete
                (999, None, None, DELETE),      # unmatched delete -> no-op
            ],
        )
    )
    got = _rows(t)
    assert got[3] == ("updated", 99.0)
    assert got[100] == ("new", 1.0)
    assert 5 not in got and 999 not in got
    assert len(got) == 20  # 20 - 1 delete + 1 insert
    assert got[7] == ("v7", 70.0)  # untouched row intact


def test_merge_untouched_buckets_not_rewritten(spark, tmp_path):
    t = _table(spark, tmp_path)
    listings = {
        d: sorted(os.listdir(os.path.join(t.table_dir, d)))
        for d in os.listdir(t.table_dir)
        if d.startswith("bucket=")
    }
    t.merge(_changes(spark, [(3, "u", 0.0, UPSERT)]))
    from pyspark.sql import functions as F

    bucket = (
        spark.createDataFrame([(3,)], "id long")
        .select(F.pmod(F.hash("id"), F.lit(4)).cast("int").alias("b"))
        .collect()[0]["b"]
    )
    after = {
        d: sorted(os.listdir(os.path.join(t.table_dir, d)))
        for d in os.listdir(t.table_dir)
        if d.startswith("bucket=")
    }
    for d, files in listings.items():
        if d == f"bucket={bucket}":
            assert after[d] != files  # rewritten
        else:
            assert after[d] == files  # byte-untouched


def test_merge_emptied_bucket_purged(spark, tmp_path):
    """Delete every row of one bucket: dynamic overwrite writes nothing
    for it, so the merge must purge the stale directory explicitly."""
    from pyspark.sql import functions as F

    t = _table(spark, tmp_path)
    target = 2
    ids = [
        r["id"]
        for r in t.read()
        .where(F.pmod(F.hash("id"), F.lit(4)).cast("int") == target)
        .collect()
    ]
    assert ids  # bucket non-empty before
    t.merge(_changes(spark, [(i, None, None, DELETE) for i in ids]))
    assert not os.path.isdir(os.path.join(t.table_dir, f"bucket={target}"))
    got = _rows(t)
    assert set(got) == set(range(20)) - set(ids)


def test_merge_duplicate_keys_require_seq(spark, tmp_path):
    t = _table(spark, tmp_path)
    dup = _changes(spark, [(3, "a", 1.0, UPSERT), (3, "b", 2.0, UPSERT)])
    with pytest.raises(ValueError, match="multiple change rows"):
        t.merge(dup)

    seq = spark.createDataFrame(
        [(3, "first", 1.0, UPSERT, 1), (3, "last", 2.0, UPSERT, 2),
         (4, None, None, DELETE, 1), (4, "revived", 8.0, UPSERT, 2)],
        "id long, name string, x double, _op string, seq int",
    )
    t.merge(seq, seq_col="seq")
    got = _rows(t)
    assert got[3] == ("last", 2.0)      # highest sequence wins
    assert got[4] == ("revived", 8.0)   # delete then re-insert, in order

    tied = spark.createDataFrame(
        [(5, "x", 1.0, UPSERT, 7), (5, "y", 2.0, UPSERT, 7)],
        "id long, name string, x double, _op string, seq int",
    )
    with pytest.raises(ValueError, match="share seq"):
        t.merge(tied, seq_col="seq")


def test_merge_null_seq_is_its_own_sequence_value(spark, tmp_path):
    """A NULL sequence sorts last: it loses to a sequenced row of the same
    key, and two NULL-sequence rows of one key tie."""
    t = _table(spark, tmp_path)
    schema = "id long, name string, x double, _op string, seq int"
    t.merge(
        spark.createDataFrame(
            [(3, "unsequenced", 1.0, UPSERT, None), (3, "sequenced", 2.0, UPSERT, 1)],
            schema,
        ),
        seq_col="seq",
    )
    assert _rows(t)[3] == ("sequenced", 2.0)

    tied = spark.createDataFrame(
        [(5, "x", 1.0, UPSERT, None), (5, "y", 2.0, UPSERT, None)], schema
    )
    with pytest.raises(ValueError, match="share seq"):
        t.merge(tied, seq_col="seq")


def test_merge_into_empty_table(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "e"), ["id"], n_buckets=4)
    t.merge(
        spark.createDataFrame(
            [(1, "a", 1.0, "U"), (2, None, None, "D")],
            "id long, name string, x double, _op string",
        )
    )
    assert _rows(t) == {1: ("a", 1.0)}


def test_versioned_merge_time_travel_and_changes(spark, tmp_path):
    """versioned=True: each merge commits a snapshot; old versions stay
    readable after the bucket rewrite (files relocate, not delete); the
    change feed between versions recovers exactly the net changes."""
    t = MergeTable(spark, str(tmp_path / "v"), ["id"], n_buckets=4, versioned=True)
    base = spark.createDataFrame(
        [(i, f"v{i}", i * 10.0) for i in range(10)], "id long, name string, x double"
    )
    v0 = t.write_full(base)
    v1 = t.merge(
        _changes(
            spark,
            [
                (3, "updated", 99.0, UPSERT),
                (50, "new", 1.0, UPSERT),
                (5, None, None, DELETE),
                (7, "v7", 70.0, UPSERT),  # no-op update: identical values
            ],
        )
    )
    assert (v0, v1) == (0, 1)

    # Time travel: v0 is the pristine base.
    old = {r["id"]: (r["name"], r["x"]) for r in t.read_version(0).collect()}
    assert old == {i: (f"v{i}", i * 10.0) for i in range(10)}
    # Current state reflects the merge.
    now = _rows(t)
    assert now[3] == ("updated", 99.0) and now[50] == ("new", 1.0)
    assert 5 not in now

    # Change feed: net changes only (the identical-value upsert of id 7
    # is invisible to a version diff).
    feed = {
        r["id"]: (r["_change_type"], r["name"], r["x"])
        for r in t.changes_between(0, 1).collect()
    }
    assert feed == {
        3: ("update", "updated", 99.0),
        50: ("insert", "new", 1.0),
        5: ("delete", "v5", 50.0),  # delete carries the pre-image
    }


def test_merge_randomized_against_dict_model(spark, tmp_path):
    """Model-based check: a seeded sequence of random changesets applied
    through MergeTable.merge must leave exactly the state a plain
    dict-model replay predicts — upsert wins by seq, delete removes,
    unknown-key deletes no-op — across many batches and key collisions.
    (The proptest analog for the merge path; fixed seed keeps it
    deterministic in CI.)"""
    import random

    from tansu_spark.lake.merge import MergeTable

    rng = random.Random(7)
    t = MergeTable(spark, str(tmp_path / "m"), key_cols=["k"], n_buckets=4)
    t.write_full(
        spark.createDataFrame(
            [(f"k{i}", 0) for i in range(10)], "k string, v int"
        )
    )
    model = {f"k{i}": 0 for i in range(10)}

    seq = 0
    for _batch in range(8):
        changes = []
        for _ in range(rng.randint(1, 12)):
            k = f"k{rng.randint(0, 14)}"  # keys beyond the table exist
            seq += 1
            if rng.random() < 0.25:
                changes.append((k, None, "D", seq))
            else:
                v = rng.randint(1, 999)
                changes.append((k, v, "U", seq))
        df = spark.createDataFrame(
            changes, "k string, v int, _op string, _seq long"
        )
        t.merge(df, seq_col="_seq")
        # replay on the model in seq order (the contract merge promises)
        for k, v, op, _ in sorted(changes, key=lambda c: c[3]):
            if op == "D":
                model.pop(k, None)
            else:
                model[k] = v

        got = {r.k: r.v for r in t.read().collect()}
        assert got == model, f"diverged at batch {_batch}"
