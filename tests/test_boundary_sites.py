"""The package crosses into Python at a pinned set of map sites.

Row and batch kernels cross through ``multimodal.map_batches`` (one
``mapInArrow``); the other ``mapInArrow`` passes are the fused
extraction stages. The ``.mapInPandas(`` sites that remain are pinned
here per file, so a new site fails this test instead of slipping in. A
site that moves onto ``map_batches`` lowers its count here.
"""

from __future__ import annotations

from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "landlensdb_spark"

PINNED = {
    ".mapInPandas(": {
        "operators/fetch.py": 1,
        "operators/mvt.py": 1,
        "operators/polyfill.py": 1,
        "operators/raster.py": 1,
        "operators/similarity.py": 1,
        "operators/warc.py": 1,
        "tables.py": 2,
    },
    ".mapInArrow(": {
        "extract.py": 1,
        "operators/fused.py": 1,
        "operators/multimodal.py": 1,
    },
}


@pytest.mark.parametrize("call", sorted(PINNED))
def test_map_sites_are_pinned(call):
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        n = path.read_text(encoding="utf-8").count(call)
        if n:
            found[path.relative_to(PACKAGE).as_posix()] = n
    assert found == PINNED[call]
