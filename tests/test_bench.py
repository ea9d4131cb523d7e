"""Unit tests for bench.py's output contract (no Spark)."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_summary_line_trims_an_oversized_query_map():
    """A query map far over the line budget is trimmed from the fastest
    end and counted in queries_omitted, instead of failing after the
    run; only what does not fit is dropped."""
    import bench

    timings = {f"query_with_a_long_descriptive_name_{i:04d}": 1000.0 + i / 7 for i in range(2000)}
    line = bench.summary_line({"metric": "headline_total", "value": 1.0, "queries": timings})
    assert len(json.dumps(line)) <= bench._SUMMARY_MAX_CHARS
    kept = line["queries"]
    assert kept, "the slowest queries must still be carried"
    assert len(kept) + line["queries_omitted"] == len(timings)
    slowest = sorted(timings, key=timings.get, reverse=True)
    assert list(kept) == slowest[: len(kept)]
    # one more entry would overflow the line
    nxt = slowest[len(kept)]
    grown = dict(line, queries={**kept, nxt: round(timings[nxt], 2)})
    grown["queries_omitted"] -= 1
    assert len(json.dumps(grown)) > bench._SUMMARY_MAX_CHARS
