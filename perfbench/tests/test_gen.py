"""The input generator: deterministic per seed, and its stated properties."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen


def test_same_seed_same_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=7, n_orders=2_000, hot_frac=0.3)
    b = gen.generate(str(tmp_path / "b"), seed=7, n_orders=2_000, hot_frac=0.3)
    assert a == b
    for t in ("orders", "lineitem"):
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert ta.equals(tb)


def test_other_seed_other_inputs():
    a = gen.make_keys(1, 2_000, 0.3)
    b = gen.make_keys(2, 2_000, 0.3)
    assert not np.array_equal(a[0], b[0])


def test_hot_points_share_cell_and_signature():
    okeys, lkeys, lines, hot_key, n_hot = gen.make_keys(3, 5_000, 0.3)
    n_uniform = len(lkeys) - n_hot
    assert n_hot == round(0.3 * n_uniform)
    hot = lkeys[n_uniform:]
    # datagen's address-point keys: grid cell (x, y), street name number,
    # address system and range base are all functions of these residues
    assert (hot % 200 == hot_key % 200).all()
    assert ((hot // 200) % 200 == (hot_key // 200) % 200).all()
    assert (hot % 37 == hot_key % 37).all()
    assert (hot % 7 == hot_key % 7).all()
    assert (hot % 11 == hot_key % 11).all()
    # PrefixDir = (objectid % 5) still takes all five values; 2/7 of the
    # hot points share the PREDIR (key % 5) of the hot key's own road
    prefix = (hot * 8 + lines[n_uniform:]) % 5
    assert len(set(prefix.tolist())) == 5
    assert abs((prefix == hot_key % 5).mean() - 2 / 7) < 0.01
    assert not np.isin(hot, okeys).any()


def test_uniform_has_no_hot_points():
    okeys, lkeys, lines, hot_key, n_hot = gen.make_keys(3, 5_000, 0.0)
    assert n_hot == 0 and hot_key == 0
    assert np.isin(lkeys, okeys).all()
    assert 1 <= lines.min() and lines.max() <= gen.MAX_LINES


def test_self_check_rejects_duplicate_objectids():
    okeys, lkeys, lines, hot_key, n_hot = gen.make_keys(4, 1_000, 0.3)
    lkeys = lkeys.copy()
    lines = lines.copy()
    lkeys[1], lines[1] = lkeys[0], lines[0]
    with pytest.raises(ValueError, match="unique"):
        gen.check_keys(okeys, lkeys, lines, hot_key, n_hot, 0.3)


def test_self_check_rejects_wrong_hot_share():
    okeys, lkeys, lines, hot_key, n_hot = gen.make_keys(4, 1_000, 0.3)
    with pytest.raises(ValueError, match="hot share"):
        gen.check_keys(okeys, lkeys, lines, hot_key, n_hot, 0.2)
