"""``tools/qplan.py -u`` stubs localCheckpoint so checkpoint-hidden
plans can be dumped. Observation-gated loops must still finish under
the stub and compute the same result as the checkpointed run."""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import qplan  # noqa: E402


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_uncut_stub_finishes_observation_gated_loops(spark, monkeypatch):
    from molgraphdb_spark.operators.graph import connected_components, core_numbers

    # a triangle with a tail, plus a disjoint pair
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (10, 11)]
    e = spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "src long, dst long")
    want = (_rows(connected_components(e)), _rows(core_numbers(e)))

    for cls in qplan.uncut_targets():
        monkeypatch.setattr(cls, "localCheckpoint", qplan.uncut_local_checkpoint)
    got = []
    # a daemon thread bounds the wait: a stub that never runs an action
    # leaves Observation.get blocked forever
    t = threading.Thread(
        target=lambda: got.append(
            (_rows(connected_components(e)), _rows(core_numbers(e)))
        ),
        daemon=True,
    )
    t.start()
    t.join(timeout=600)
    assert not t.is_alive(), "observation-gated loop hung under the -u stub"
    assert got == [want]
