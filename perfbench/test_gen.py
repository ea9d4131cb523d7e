"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digests(seed: int, out_dir: str) -> dict[str, str]:
    tables = gen.build_tables(seed, 0.001)
    gen.write_tables(tables, out_dir)
    stream = gen.wire_stream(tables["events"], 3_000, seed)
    gen.write_backlog(stream, os.path.join(out_dir, "in"), 3)
    out = {}
    for root, _, files in os.walk(out_dir):
        for name in files:
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, out_dir)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    first = _digests(7, str(tmp_path / "a"))
    assert first == _digests(7, str(tmp_path / "b"))
    assert len(first) == 13  # ten tables and three wire files
    assert first != _digests(8, str(tmp_path / "c"))


def test_reject_shares_and_valid_rows():
    events = gen.build_events(3, 0.001)
    stream = gen.wire_stream(events, 2_000, 3)
    assert (stream.malformed, stream.missing_field, stream.low_quality) == (20, 20, 40)
    assert len(stream.lines) == 2_000 + stream.rejected
    assert int(stream.valid.sum()) == 2_000 == len(stream.base_rows)
    # valid lines carry consecutive ids, replaying the events rows in order
    valid = [line for line, ok in zip(stream.lines, stream.valid) if ok]
    assert valid[1_500].startswith('{"id":"1500",')
    assert list(stream.base_rows[:3]) == [0, 1, 2]
    chunks = stream.split(4)
    assert sum(len(lines) for lines, _ in chunks) == len(stream.lines)
    assert sum(len(rows) for _, rows in chunks) == 2_000
