"""Program defects the benchmark's workloads step around, each pinned by a
test that fails until the program is fixed (``strict`` xfail: a fix turns
it into an unexpected pass, and the marker comes off).

Run from the root of a checkout: ``python3 -m pytest -q perfbench/tests``.
"""

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, str(ROOT))
    from harvesting_extract_to_ttl_service_spark import get_spark

    s = get_spark("perfbench-defects", cpus=min(2, len(os.sched_getaffinity(0))))
    yield s
    s.stop()


@pytest.mark.xfail(strict=True, reason=(
    "bm25_delete_docs takes (id, dl) from the postings-derived doclens "
    "sidecar, where a document with NULL text has no row, so it tombstones "
    "nothing for it while the document still counts in N"))
def test_bm25_delete_of_a_document_without_text(spark, tmp_path):
    """Deleting a document whose text is NULL must leave the index's
    statistics equal to those of an index built without it, the parity
    ``bm25_delete_docs`` documents. ``corpus_index`` draws its deletes
    from documents with text because of this."""
    from harvesting_extract_to_ttl_service_spark.streaming.lexical_stream import (
        bm25_delete_docs,
        bm25_index_batch,
        bm25_index_stats,
    )

    docs = [(0, "alpha beta"), (1, None), (2, "beta gamma delta")]
    schema = "doc_id long, text string"
    full, rebuilt = str(tmp_path / "full"), str(tmp_path / "rebuilt")
    bm25_index_batch(spark.createDataFrame(docs, schema), 0, full)
    bm25_index_batch(spark.createDataFrame([docs[0], docs[2]], schema), 0,
                     rebuilt)

    assert bm25_delete_docs(spark, full, [1]) == 1
    got, want = bm25_index_stats(spark, full), bm25_index_stats(spark, rebuilt)
    assert (got["n_docs"], got["sum_dl"]) == (want["n_docs"], want["sum_dl"])
