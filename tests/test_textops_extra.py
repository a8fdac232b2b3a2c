"""Winnowing fingerprints + IVF recall (rows-only operators)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pipeline_kinesis_spark.operators.similarity import (
    TOP_K,
    cosine_topk,
    cosine_topk_ivf,
)
from pipeline_kinesis_spark.operators.textops import (
    WINNOW_STATS_SQL,
    winnow_fingerprint_stats,
    winnow_fingerprints,
)
from pipeline_kinesis_spark.testing import compare_to_oracle, oracle_connection


def test_winnow_deterministic_and_shaped(spark, sf_dir):
    a = {r.doc_id: tuple(r.fingerprints) for r in winnow_fingerprints(spark, sf_dir).collect()}
    b = {r.doc_id: tuple(r.fingerprints) for r in winnow_fingerprints(spark, sf_dir).collect()}
    assert a == b
    # winnowing guarantee: fingerprint count ≤ gram count, ≥ 1 for any
    # doc longer than k+w chars
    assert all(len(v) >= 1 for v in a.values())


def test_winnow_stats_short_docs_match_oracle(spark, tmp_path):
    """Docs with 0..w+1 grams (k=8, w=4), where a window count of zero
    once made the array form slice from position 0 and raise
    INVALID_PARAMETER_VALUE.START: every length answers, exactly as the
    oracle does, and the fingerprint counts stay in bounds."""
    k, w = 8, 4
    texts = [""] + ["abcdefghijklmnopqrstuvwxyz"[:n] for n in range(1, k + w + 1)]
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    df = winnow_fingerprint_stats(spark, str(tmp_path))
    rows = {r.doc_id: r for r in df.collect()}
    assert sorted(r.n_grams for r in rows.values()) == sorted(
        max(len(t) - (k - 1), 0) for t in texts
    )
    assert max(r.n_grams for r in rows.values()) == w + 1
    assert all(r.count_in_bounds and r.fingerprints_contained for r in rows.values())
    con = oracle_connection(str(tmp_path))
    try:
        assert not compare_to_oracle(df, con, WINNOW_STATS_SQL)
    finally:
        con.close()


def test_winnow_detects_shared_substrings(spark, sf_dir):
    """Two docs sharing a long substring must share ≥1 fingerprint
    (winnowing's detection guarantee)."""
    df = winnow_fingerprints(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = {r.doc_id: set(r.fingerprints) for r in df.collect()}
    texts = {r.doc_id: r.text.lower().strip() for r in docs.collect()}
    ids = sorted(fps)
    checked = 0
    for i in ids[:20]:
        for j in ids[:20]:
            if i >= j:
                continue
            # find a shared 20-char substring, if any
            t1, t2 = texts[i], texts[j]
            shared = any(
                t1[k : k + 20] in t2 for k in range(0, max(len(t1) - 20, 0), 7)
            )
            if shared:
                checked += 1
                assert fps[i] & fps[j], f"docs {i},{j} share text, no fp overlap"
    # sanity: the corpus's shared vocabulary produces at least one case
    assert checked > 0


def test_ivf_recall_against_exact(spark, sf_dir):
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_ivf(spark, sf_dir).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # nprobe=3 of 8 cells on near-orthogonal vectors: modest but real
    assert recall >= 0.2, f"IVF recall {recall:.2f}"
    # and per query it returns at most TOP_K
    from collections import Counter

    per_q = Counter(q for q, _ in ivf)
    assert all(n <= TOP_K for n in per_q.values())
