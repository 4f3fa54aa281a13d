"""Smoke test of the keyed-state tick ladder (tools/tick_ladder.py): a few
ticks of each family's production tick driver, with a compaction between
them, must give the one-shot operator's result."""

import pytest


@pytest.mark.parametrize("family", ["corpus", "embedding", "prepare"])
def test_tick_ladder_matches_one_shot(spark, sf_dir, family):
    from tools.tick_ladder import run_ladder

    assert run_ladder(spark, sf_dir, family, n_ticks=3, compact_every=2)
