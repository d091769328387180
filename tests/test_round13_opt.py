"""Pinned result rows of ann_pq and ann_ivf_pq at the fixture scale.

Both ops train their codebooks driver-side on a deterministic sample
and return an ordered top-10, so the exact tuples (byte-identical
doubles and tie-break ranks) pin the sample collect, the Lloyd
training and the literal plan together. Recall against the exact
top-10 is checked separately (test_round5_fixes, test_round6_fixes).
"""

from __future__ import annotations

import pytest

from emdrive_spark.operators import similarity

from .conftest import SF_SMOKE

PINNED = {
    "ann_pq": [
        (0, 0.358561, 0.0),
        (225, 1.162793, 1.369745),
        (483, 1.154811, 1.399098),
        (260, 1.216908, 1.402662),
        (73, 1.218103, 1.405523),
        (212, 1.090187, 1.437202),
        (402, 1.121086, 1.451),
        (82, 1.00812, 1.5012),
        (59, 1.090809, 1.502584),
        (394, 1.022923, 1.50267),
    ],
    "ann_ivf_pq": [
        (0, 1, 0.298315, 0.0),
        (17, 1, 0.821644, 1.331087),
        (225, 1, 0.817253, 1.369745),
        (12, 1, 1.001491, 1.377945),
        (483, 1, 0.93593, 1.399098),
        (260, 1, 0.930155, 1.402662),
        (212, 1, 0.987143, 1.437202),
        (347, 1, 0.859401, 1.450985),
        (402, 1, 0.888167, 1.451),
        (232, 8, 1.258632, 1.465323),
    ],
}


@pytest.mark.parametrize("op", sorted(PINNED))
def test_pq_rows_pinned(spark, op):
    rows = [tuple(r) for r in getattr(similarity, op)(spark, SF_SMOKE).collect()]
    assert rows == PINNED[op]
