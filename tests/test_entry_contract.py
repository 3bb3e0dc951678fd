"""Self-check of the __spark_entry__ contract: every queries() entry
runs; every oracle_sql() twin produces the same rows (count + schema
names + order-insensitive values), mimicking the driver's comparison."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


ORACLE = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_vs_oracle(spark, ddb, name):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    want = _normalize(ddb.execute(ORACLE[name]).fetchdf())
    assert list(got.columns) == list(want.columns), f"{name}: column names differ"
    assert len(got) == len(want), f"{name}: row counts {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True, obj=name
    )


def _docs():
    d = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"),
                        columns=["doc_id", "text"])
    return [int(i) for i in d.doc_id], d.text.tolist()


def _brute_minhash_near_dup(rows):
    """LSH banding is deterministic: the candidates are exactly the
    pairs sharing one 4-row band of the 64-hash signature (16 bands)."""
    from pompspark.textops import minhash_signatures_batch

    ids, texts = _docs()
    sig = minhash_signatures_batch(texts, 64, 3)
    buckets: dict = {}
    for i, row in zip(ids, sig):
        for b in range(16):
            buckets.setdefault((b, tuple(row[4 * b:4 * b + 4])), []).append(i)
    want = {(a, b) for m in buckets.values() for a in m for b in m if a < b}
    assert set(rows) == want and len(rows) == len(want)


def _brute_simhash_groups(rows):
    from pompspark.textops import simhash64_batch

    ids, texts = _docs()
    groups: dict = {}
    for i, s in zip(ids, simhash64_batch(texts, shingle_n=2)):
        rep, n = groups.get(int(s), (i, 0))
        groups[int(s)] = (min(rep, i), n + 1)
    assert sorted(rows) == sorted((s, r, n) for s, (r, n) in groups.items())


def _brute_simhash_near_dup(rows):
    """All-pairs xor-popcount, Hamming <= 3."""
    import numpy as np

    from pompspark.textops import simhash64_batch

    ids, texts = _docs()
    sig = simhash64_batch(texts, shingle_n=2).view(np.uint64)
    x = (sig[:, None] ^ sig[None, :]).reshape(len(ids), len(ids), 1)
    ham = np.unpackbits(x.view(np.uint8), axis=2).sum(axis=2)
    want = {
        (min(ids[a], ids[b]), max(ids[a], ids[b]), int(ham[a, b]))
        for a, b in zip(*np.nonzero(ham <= 3)) if a < b
    }
    assert set(rows) == want and len(rows) == len(want)


def _brute_ann_topk_ivf_trained(rows):
    """Ten queries x ranks 1..5, never the query itself, and the r-th
    IVF neighbour is no closer than the brute-force r-th (IVF scores a
    subset of the corpus)."""
    import numpy as np

    emb = pd.read_parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    ids = emb.vec_id.to_numpy()
    v = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pos = {int(i): k for k, i in enumerate(ids)}
    queries = sorted(int(i) for i in ids)[:10]
    assert sorted({q for q, _, _ in rows}) == queries
    for q in queries:
        got = sorted((r, n) for qq, n, r in rows if qq == q)
        assert [r for r, _ in got] == [1, 2, 3, 4, 5]
        assert q not in {n for _, n in got}
        cos = v @ v[pos[q]]
        brute = sorted(np.delete(cos, pos[q]), reverse=True)[:5]
        got_cos = [cos[pos[n]] for _, n in got]
        assert got_cos == sorted(got_cos, reverse=True)
        assert all(g <= b + 1e-9 for g, b in zip(got_cos, brute))


# rows-only queries: pinned output columns and a brute-force check
ROWS_ONLY = {
    "ann_topk_ivf_trained": (["query_id", "neighbor_id", "rank"],
                             _brute_ann_topk_ivf_trained),
    "minhash_near_dup": (["id_a", "id_b"], _brute_minhash_near_dup),
    "simhash_groups": (["simhash", "rep_id", "n_members"],
                       _brute_simhash_groups),
    "simhash_near_dup": (["id_a", "id_b", "hamming"],
                         _brute_simhash_near_dup),
}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, name):
    cols, brute = ROWS_ONLY[name]
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns == cols
    rows = [tuple(r) for r in df.collect()]
    assert rows
    brute(rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
