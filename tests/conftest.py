from __future__ import annotations

import os
from pathlib import Path

import pytest

from graphminer_spark.checkpoint import CheckpointManager
from graphminer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("graphminer-tests", cores=8, shuffle_partitions=8)
    yield s


# The reference repository's bundled inputs (checked out next to this
# repository); GRAPHMINER_REFERENCE_INPUTS points elsewhere. They are not
# vendored here, so golden-parity tests fail loudly when they are absent.
REFERENCE_INPUTS = Path(
    os.environ.get(
        "GRAPHMINER_REFERENCE_INPUTS",
        Path(__file__).resolve().parents[2] / "reference" / "inputs",
    )
)


def citeseer_dir() -> str:
    """Path of the reference citeseer graph; fails the calling test with
    the missing path when the graph is not there."""
    path = REFERENCE_INPUTS / "citeseer"
    if not (path / "graph.meta.txt").is_file():
        pytest.fail(
            f"citeseer input missing: {path / 'graph.meta.txt'} not found "
            "(set GRAPHMINER_REFERENCE_INPUTS to the reference inputs dir)",
            pytrace=False,
        )
    return str(path)


def edges_df(spark, edges):
    """Canonical (src<dst) edge DataFrame from a python edge list."""
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    return spark.createDataFrame(canon, "src long, dst long")


class CountingCkpt(CheckpointManager):
    """Non-durable manager that records in ``rounds`` the highest
    superstep committed through either ``save`` or ``save_and_agg``."""

    def __init__(self):
        super().__init__(None)
        self.rounds = 0

    def save(self, state, iteration, metrics, force=False):
        self.rounds = max(self.rounds, iteration)
        return super().save(state, iteration, metrics, force)

    def save_and_agg(self, state, iteration, metrics, aggs, force=False):
        self.rounds = max(self.rounds, iteration)
        return super().save_and_agg(state, iteration, metrics, aggs, force)
