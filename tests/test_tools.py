"""Argument and data guards of the measurement tools (no Spark needed)."""

from __future__ import annotations

import sys

import pyarrow as pa
import pytest

from tools import ab_interleave, scaling_synth


def test_ab_interleave_rejects_rounds_below_one(monkeypatch, capsys):
    # an unimportable --module proves the check runs before any work starts
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "ab_interleave.py",
            "--old-src", "old.py",
            "--module", "no_such_module_for_ab_interleave",
            "--attrs", "f",
            "--rounds", "0",
            "q1",
        ],
    )
    with pytest.raises(SystemExit) as exc:
        ab_interleave.main()
    assert exc.value.code == 2
    assert "--rounds" in capsys.readouterr().err


def test_scaling_synth_replicas_never_duplicate_embeddings():
    eps = [scaling_synth.replica_eps(i) for i in range(1, 100)]
    assert 0.0 not in eps
    assert len(set(eps)) == len(eps)

    t = pa.table(
        {
            "vec_id": pa.array([1, 2], pa.int64()),
            "embedding": pa.array([[0.5, 0.25], [0.125, 1.0]], pa.list_(pa.float32())),
        }
    )
    replicas = [
        scaling_synth._replica(t, "embeddings.parquet", i).column("embedding").to_pylist()
        for i in range(27)
    ]
    assert len({repr(r) for r in replicas}) == len(replicas)
