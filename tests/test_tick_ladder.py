"""Smoke test of the keyed-state tick ladder (tools/tick_ladder.py): a few
ticks of each family's production tick driver (the prepare family also
with its v3 holdout gates), with a compaction between them, must give the
one-shot operator's result."""

import pytest


@pytest.mark.parametrize(
    "family, v3",
    [
        pytest.param("corpus", False, id="corpus"),
        pytest.param("embedding", False, id="embedding"),
        pytest.param("prepare", False, id="prepare"),
        pytest.param("prepare", True, id="prepare-v3"),
    ],
)
def test_tick_ladder_matches_one_shot(spark, sf_dir, family, v3):
    from tools.tick_ladder import run_ladder

    assert run_ladder(spark, sf_dir, family, n_ticks=3, compact_every=2, v3=v3)
