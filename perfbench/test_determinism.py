"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bronze  # noqa: E402
import tables  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(root):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _land(root: str, seed: int, days: int) -> tuple[dict, bronze.Model]:
    model = bronze.Model()
    for d in range(days):
        bronze.land_day(root, seed, d, model)
    return _files(root), model


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_tables_same_seed_same_bytes(tmp_path, seed):
    a = _files(tables.write(seed, str(tmp_path / "a")))
    b = _files(tables.write(seed, str(tmp_path / "b")))
    assert a == b


def test_tables_differ_across_seeds(tmp_path):
    assert _files(tables.write(1, str(tmp_path / "a"))) != _files(tables.write(2, str(tmp_path / "b")))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bronze_same_seed_same_days(tmp_path, seed):
    files_a, model_a = _land(str(tmp_path / "a"), seed, 2)
    files_b, model_b = _land(str(tmp_path / "b"), seed, 2)
    assert files_a == files_b
    assert model_a.gold_rows() == model_b.gold_rows()
    assert model_a.fresh_read() == model_b.fresh_read()
    assert model_a.corpus_fps == model_b.corpus_fps


def test_bronze_differs_across_seeds(tmp_path):
    assert _land(str(tmp_path / "a"), 1, 1)[0] != _land(str(tmp_path / "b"), 2, 1)[0]


def test_bronze_malformed_share_is_fixed(tmp_path):
    day = bronze.land_day(str(tmp_path), 5, 0, bronze.Model())
    per_file = lambda n: int(round(n * bronze.MALFORMED_SHARE))
    assert day.malformed_null_rows["iterable"] == bronze.ITERABLE_FILES * per_file(bronze.ITERABLE_PER_FILE)
    assert day.malformed_null_rows["mongo"] == bronze.MONGO_FILES * per_file(bronze.MONGO_PER_FILE)
    assert day.malformed_null_rows["docs"] == per_file(bronze.DOCS_PER_DAY)
    assert all(v > 0 for v in day.malformed_null_rows.values())
