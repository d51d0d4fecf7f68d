"""Source scan: each subplan that several builders share is written once.

The trade graph (operators/graph.py), the co-purchase link pairs
(operators/pipeline_ml.py), the IVF cell assignment
(operators/similarity.py), the MinHash band keys and the min-relaxation
round (operators/dedup.py) each live in one module-private Spark helper
with its oracle twin beside it. A pasted copy of one of their defining
fragments fails this test."""

from __future__ import annotations

import os
import re

import pytest

_PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_cherry_shuffle_service_spark",
)

#: (owning helper, its module, a fragment only that helper may contain)
_FRAGMENTS = [
    ("_pairs_sql", "graph.py", "2 * l_suppkey AS s_node"),
    ("_trade_nodes", "graph.py", '(2 * F.col("l_suppkey")).alias("s_node")'),
    ("_min_label_rounds", "dedup.py", "LEAST(n.label, MIN(m.label))"),
    ("_min_relax", "dedup.py", 'join(edges, F.col("node") == F.col("src"), "left")'),
    ("_IVF_ASSIGNED_CTE", "similarity.py", "FROM n CROSS JOIN c "),
    ("_ivf_assigned", "similarity.py", "emb.join(F.broadcast(cents))"),
    ("_band_keys", "dedup.py", "F.sequence(F.lit(0), F.lit(_MH_BANDS - 1))"),
    ("_copurchase_scores", "pipeline_ml.py", 'Window.partitionBy("c")'),
]


def _package_text() -> dict[str, str]:
    """Package sources with every whitespace run collapsed to one space."""
    texts = {}
    for root, _dirs, files in os.walk(_PACKAGE):
        for fname in (f for f in files if f.endswith(".py")):
            path = os.path.join(root, fname)
            with open(path) as fh:
                texts[os.path.relpath(path, _PACKAGE)] = re.sub(r"\s+", " ", fh.read())
    return texts


@pytest.mark.parametrize(
    "module, fragment", [f[1:] for f in _FRAGMENTS], ids=[f[0] for f in _FRAGMENTS]
)
def test_shared_fragment_occurs_once(module, fragment):
    hits = {rel: n for rel, src in _package_text().items() if (n := src.count(fragment))}
    assert hits == {f"operators/{module}": 1}
