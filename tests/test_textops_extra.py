"""Winnowing fingerprints + IVF recall (rows-only operators)."""

from __future__ import annotations

import pandas as pd
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


def test_winnow_stats_short_documents_match_oracle(spark, tmp_path):
    """Documents shorter than one gram (k=8) or one window (k+w-1=11)
    after lower(trim(...)): no crash and no phantom grams — the row
    matches WINNOW_STATS_SQL in DuckDB. Lengths 0, 1, 8, 10 and 11
    straddle both edges; surrounding spaces check that the counts come
    from the trimmed text."""
    texts = ["", "  ", "A", "AbCdEfGh", " abcdefghij ", "abcdefghijk"]
    d = tmp_path / "corpus"
    d.mkdir()
    # one parquet FILE, which both Spark and the DuckDB oracle read
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        d / "documents.parquet"
    )
    con = oracle_connection(str(d))
    try:
        got = winnow_fingerprint_stats(spark, str(d))
        assert compare_to_oracle(got, con, WINNOW_STATS_SQL) == []
    finally:
        con.close()
    by_id = {r.doc_id: r for r in got.collect()}
    assert [by_id[i].n_grams for i in range(len(texts))] == [0, 0, 0, 1, 3, 4]
    assert [by_id[i].n_windows for i in range(len(texts))] == [0, 0, 0, 0, 0, 1]


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
