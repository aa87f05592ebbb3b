"""Session defaults must be sane on any host (north rule)."""

from __future__ import annotations

import os

from concept_hierarchy_formation_in_property_graphs_spark.session import default_cpus


def test_default_cpus_comes_from_host_unless_env_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
