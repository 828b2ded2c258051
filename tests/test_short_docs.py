"""Adversarial short-document corpus: the fan-out queries must not crash
and must still hash-match their oracles when docs have fewer words than
the n-gram/shingle width.

Guards the `seq1` contract (queries/base.py): Spark's ``sequence(1, 0)``
is the DESCENDING ``[1, 0]``, so an unguarded ``sequence(1,
greatest(n-K, 0))`` fan-out crashes on element_at/slice index 0 — masked
by the driver corpus, whose shortest document is longer than every gram
width used.
"""

from __future__ import annotations

import pytest

from arkflow_spark.plans.oracle import compare
from arkflow_spark.queries import ORACLE, QUERIES

DOCS = [
    # (doc_id, text, lang, source)
    (1, "one", "en", "s"),
    (2, "two words", "en", "s"),
    (3, "three tiny words", "es", "s"),
    (4, "now exactly four words", "en", "s"),
    (5, "short doc of five words", "fr", "s"),
    (6, "a slightly longer six word doc", "en", "s"),
    (7, "the quick brown fox jumps over the lazy dog again", "en", "s"),
    # exact duplicate pair -> dedup output is non-empty
    (8, "identical twin document with seven words here", "en", "s"),
    (9, "identical twin document with seven words here", "en", "s"),
    (50, "eval doc sharing a five gram identical twin document with seven", "en", "s"),
]

SHORT_SAFE_QUERIES = [
    "dedup_exact",
    "dedup_prefix_filter",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_cluster_canonical",
    "documents_decontaminate",
    "text_bigram_entropy",
    "text_fingerprint",
    "documents_pack_sequences",
]


@pytest.fixture(scope="module")
def short_corpus(spark, tmp_path_factory):
    import os

    from arkflow_spark.tables import TABLES

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("shortdocs")
    # single-FILE parquet, like the driver's testdata layout
    table = pa.table(
        {
            "doc_id": pa.array([i for i, *_ in DOCS], pa.int64()),
            "text": [t for _, t, *_ in DOCS],
            "lang": [lg for _, _, lg, _ in DOCS],
            "source": [s for *_, s in DOCS],
            "n_chars": pa.array([len(t) for _, t, *_ in DOCS], pa.int64()),
        }
    )
    pq.write_table(table, str(d / "documents.parquet"))
    # duckdb_connect registers every table eagerly; the untouched ones can
    # point at the smoke-scale fixtures
    for t in TABLES:
        if t != "documents":
            os.symlink(
                f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet")
            )
    return str(d)


@pytest.mark.parametrize("name", SHORT_SAFE_QUERIES)
def test_short_doc_corpus_parity(spark, short_corpus, name):
    res = compare(name, spark, short_corpus, QUERIES[name], ORACLE[name])
    assert res.ok, res
