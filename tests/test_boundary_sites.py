"""The package crosses into Python at a pinned set of map sites.

Row, batch, explode and filter kernels cross through
``multimodal.map_batches``, the one ``mapInArrow``: the extraction
stages and the point-in-polygon join run on it too. Sites are pinned per
file, so a new one fails this test instead of slipping in.

The one ``.mapInPandas(`` left is ``fetch.fetch_batched``, on purpose:
its public ``batch_size`` bounds the fetched content held per yielded
frame, and ``map_batches`` yields one output batch per input batch, so it
cannot keep that bound.

Scalar ``pandas_udf`` and grouped ``applyInPandas`` sites are pinned the
same way: each is an Arrow Python stage with its own worker per task, so a
new one should be a decision, not a drift.

Driver-local rows enter the other way too. ``.createDataFrame(`` is pinned
to ``session.local_frame``, which ships rows as one typed Arrow table (a
``LocalRelation``). A list of tuples handed straight to
``createDataFrame`` would become an RDD of pickled rows whose every job
starts a Python task; a new call site fails this test.
"""

from __future__ import annotations

from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "landlensdb_spark"

PINNED = {
    ".createDataFrame(": {
        "session.py": 1,
    },
    ".mapInPandas(": {
        "operators/fetch.py": 1,
    },
    ".mapInArrow(": {
        "operators/multimodal.py": 1,
    },
    "pandas_udf(": {
        "geo/cells.py": 1,
        "geo/s2.py": 1,
        "geo/wkb.py": 2,
        "operators/bpe.py": 1,
        "operators/dedup.py": 1,
        "operators/mvt.py": 1,
        "operators/ranges.py": 1,
        "operators/raster.py": 1,
        "operators/similarity.py": 3,
        "operators/textstats.py": 1,
    },
    ".applyInPandas(": {
        "entry_queries.py": 1,
        "geo/cells.py": 3,
        "operators/hull.py": 2,
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
