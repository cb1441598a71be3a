"""bench.py's headline line (no Spark needed)."""

from __future__ import annotations

import json

import bench


def test_print_headline_degrades_instead_of_dying(capsys):
    # a caller parses the last stdout line: an oversized line must fall
    # back to a smaller valid line, never assert
    out = {
        "metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1,
        "queries": {f"q{i:04d}": 1.0 for i in range(500)},  # blows the 4 KB cap
        "pipeline": {"turns": 1},
        "scaling": None,
    }
    bench._print_headline(out)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) < 4096
    parsed = json.loads(line)
    assert parsed["metric"] == "m" and parsed["pipeline"] == {"turns": 1}
    assert parsed["scaling"] is None
