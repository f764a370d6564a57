"""bench.py's output contract: two JSON lines on stdout, the compact one
last, the headline total equal to the sum of the headline timings, no
file left behind in the repository, and only registered names timed."""

from __future__ import annotations

import json
import os
from pathlib import Path

import bench
from tests.conftest import SF_SMOKE

REPO = Path(bench.__file__).resolve().parent


def _tree(root: Path) -> set[str]:
    """Every file under root, minus git and bytecode."""
    out = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in (".git", "__pycache__")]
        out.update(os.path.join(dirpath, name) for name in filenames)
    return out


def test_headline_run_prints_full_then_compact_record(spark, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setenv("SPARK_GRAFT_HEADLINE_ONLY", "1")
    capsys.readouterr()
    before = _tree(REPO)
    bench.main()
    lines = [line for line in capsys.readouterr().out.splitlines() if line.strip()]

    assert len(lines) == 2, lines
    full, compact = (json.loads(line) for line in lines)
    assert list(full["queries"]) == bench.HEADLINE
    assert len(bench.HEADLINE) == 14
    assert full["value"] == round(sum(full["queries"].values()), 3)
    assert set(full) == {"metric", "value", "unit", "queries", "variants", "extras", "sf"}
    assert full["variants"] == full["extras"] == {}
    assert full["sf"] == 0.001

    assert set(compact) == {"metric", "value", "unit", "sf", "queries", "top_cost"}
    assert compact["queries"] == full["queries"]
    assert compact["value"] == full["value"]
    assert _tree(REPO) == before


def test_bench_lists_name_registered_queries():
    """Every name bench.py times is a registered query, listed once: a
    stale name would only surface as a per-query entry under "errors"."""
    from cupertino_nvr_spark.plans import REGISTRY

    names = bench.HEADLINE + bench.VARIANTS + bench.EXTRAS
    assert [n for n in names if n not in REGISTRY] == []
    assert len(names) == len(set(names))
