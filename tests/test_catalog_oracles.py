"""Catalog entries against their DuckDB oracles at sf0.001.

Covers the vector and fingerprint operators whose one implementation is
an Arrow batch form (``mapInArrow``/``mapInPandas``): the declared name
and its ``_fast`` name run the same function against the same oracle.
"""

from __future__ import annotations

import pytest

from tests.test_streaming import SF  # noqa: F401  (read by parity_compare)

_ARROW_FORM_QUERIES = [
    "s05_nearest_centroid_confusion",
    "s05_nearest_centroid_confusion_fast",
    "s08_kmeans_fixed",
    "s08_kmeans_fixed_fast",
    "s10_gram_matrix",
    "s10_gram_matrix_fast",
    "s13_knn_ivf_pq",
    "s13_knn_ivf_pq_fast",
    "d20_pq_dedup_cascade",
    "x07_winnow_fingerprints",
    "x10_winnow_rolling",
]


@pytest.mark.parametrize("name", _ARROW_FORM_QUERIES)
def test_query_matches_oracle(parity_compare, name):
    parity_compare(name)
