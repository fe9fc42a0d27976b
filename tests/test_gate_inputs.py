"""Gate calls carry no state from one call to the next: every call
builds its own inputs, and builds each of them exactly once."""

from __future__ import annotations

from meteor_spark.operators import bpe, cluster
from meteor_spark.queries import QUERIES

GATE_BUILDERS = {
    "bpe_encode_stats": "train_bpe",
    "bpe_fertility_by_lang": "train_bpe",
    "near_dup_clusters": "connected_components",
    "leakage_free_split": "connected_components",
}


def test_each_gate_call_builds_its_inputs_once(spark, sf_dir, monkeypatch):
    builds = {"train_bpe": 0, "connected_components": 0}

    def counting(module, name):
        real = getattr(module, name)

        def wrapper(*args, **kwargs):
            builds[name] += 1
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)

    counting(bpe, "train_bpe")
    counting(cluster, "connected_components")
    for gate, builder in GATE_BUILDERS.items():
        for call in (1, 2):
            before = dict(builds)
            QUERIES[gate](spark, sf_dir)
            grown = {k: builds[k] - before[k] for k in builds}
            assert grown == {k: int(k == builder) for k in builds}, (gate, call, grown)
