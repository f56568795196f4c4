"""Every cache has one owner: ``util.Caches`` is the only code that
persists a DataFrame, so no module can start a cache that nothing
releases."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
# Caches.persist(df) always takes the DataFrame; a DataFrame's own
# persist takes nothing or a storage level
DIRECT = re.compile(r"\.persist\(\s*(\)|StorageLevel|storageLevel)|\.cache\(\)")


def test_only_util_persists():
    pkg = REPO / "sequential_query_expansion_spark"
    files = sorted(pkg.rglob("*.py")) + sorted((REPO / "jobs").glob("*.py"))
    hits = [
        f"{f.relative_to(REPO)}:{i}: {line.strip()}"
        for f in files
        if f != pkg / "util.py"
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if DIRECT.search(line)
    ]
    assert len(files) > 10
    assert hits == []
