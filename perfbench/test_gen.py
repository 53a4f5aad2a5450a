"""The benchmark's generators are functions of the seed alone.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(root: str) -> tuple[str, int]:
    """(sha256 over every file's relative path and bytes, total bytes)."""
    h, total = hashlib.sha256(), 0
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            data = open(path, "rb").read()
            h.update(os.path.relpath(path, root).encode() + b"\0" + data)
            total += len(data)
    return h.hexdigest(), total


@pytest.mark.parametrize(
    "make",
    [
        lambda out, seed: gen.klines(out, seed, minutes=300),
        lambda out, seed: gen.trade_tape(out, seed, n_files=3, rows_per_file=100),
        lambda out, seed: gen.registry_tables(out, seed, sf=0.001),
    ],
    ids=["klines", "trade_tape", "registry_tables"],
)
def test_same_seed_same_bytes_other_seed_other_data(tmp_path, make):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        make(str(tmp_path / tag), seed)
        runs[tag] = _digest(str(tmp_path / tag))
    assert runs["a"] == runs["b"]
    assert runs["a"][0] != runs["c"][0]
    # Same shape: sizes agree within 2% (text widths vary with the values).
    assert abs(runs["a"][1] - runs["c"][1]) <= 0.02 * runs["a"][1]


def test_trade_tape_stays_inside_the_watermark(tmp_path):
    """Every row's event time is within the lag of the latest event time
    of the files before it, and the lag is under the 2-minute watermark,
    so the stream drops nothing."""
    assert gen.TAPE_MAX_LAG_MS < 120_000
    tape = gen.trade_tape(str(tmp_path / "t"), 3, n_files=6, rows_per_file=200)
    seen_max = None
    for path in tape["files"]:
        with open(path) as f:
            next(f)
            times = [int(line.rsplit(",", 1)[1]) for line in f]
        if seen_max is not None:
            assert min(times) >= seen_max - gen.TAPE_MAX_LAG_MS
        seen_max = max(times) if seen_max is None else max(seen_max, max(times))


def test_klines_revision_overlaps_and_extends(tmp_path):
    minutes = 400
    k = gen.klines(str(tmp_path / "k"), 5, minutes=minutes)
    base_end = gen.KLINE_START_MS + minutes * 60_000
    assert k["revised"] <= set(k["expected"])
    assert k["revision_rows"] == len(k["revised"])
    assert any(t < base_end for _, t in k["revised"])
    assert any(t >= base_end for _, t in k["revised"])
    overlap = k["base_rows"] + k["revision_rows"] - len(k["expected"])
    assert 0 < overlap < k["base_rows"]
