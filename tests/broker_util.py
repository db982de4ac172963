"""Shared assertion for the broker's produce reject path: a rejected
batch leaves no trace and does not burn the producer's sequence."""

from __future__ import annotations

import pytest

from tansu_spark.broker.state import read_json


def assert_reject_leaves_no_trace(broker, topic, bad_rows, good_rows, error):
    """Produce ``bad_rows`` as an idempotent batch and expect ``error``.
    The segment file set, ``_segment_stats.json`` and the watermarks must
    be as they were; ``good_rows`` under the same (producer_id, epoch,
    base_sequence) must then land."""

    def state():
        return (
            broker._segment_files(topic),
            read_json(broker._segment_stats_path(topic), None),
            read_json(broker._state(topic, "watermarks.json"), {}),
        )

    before = state()
    ident = {"producer_id": 4242, "producer_epoch": 0, "base_sequence": 0}
    with pytest.raises(error):
        broker.produce_rows(topic, bad_rows, **ident)
    assert state() == before
    landed = broker.produce_rows(topic, good_rows, **ident)
    assert landed, "the retry of a rejected batch was dropped as a duplicate"
    assert sum(broker.list_offsets(topic, "latest").values()) == sum(
        int(m["high"]) for m in before[2].values()
    ) + len(good_rows)
