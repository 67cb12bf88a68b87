"""Dedup + similarity operators vs single-node oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from landlensdb_spark.operators import dedup, similarity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),          # near dup of 0
    (3, "completely different text about spark engines here"),
    (4, "completely different text about spark engines here ok"),  # near dup of 3
    (5, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (6, "unrelated short note"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def py_jaccard(a: str, b: str, n: int) -> float:
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_exact_dedup(spark, docs_df):
    out = dedup.exact_dedup(docs_df).toPandas()
    assert len(out) == 5  # 7 docs, {0,1,5} collapse
    big = out[out["n_dupes"] == 3]
    assert len(big) == 1 and big.iloc[0]["kept_id"] == 0


def test_ngram_jaccard_pairs(spark, docs_df):
    got = (
        dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.5)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    want = []
    for i in range(len(DOCS)):
        for j in range(i + 1, len(DOCS)):
            jac = py_jaccard(DOCS[i][1], DOCS[j][1], 3)
            if jac >= 0.5:
                want.append((i, j, round(jac, 6)))
    got_t = [tuple(r) for r in got.to_numpy()]
    assert sorted(got_t) == sorted(want)
    assert (0, 1, 1.0) in got_t  # exact dup found
    assert any(a == 0 and b == 2 for a, b, _ in got_t)  # near dup found


def test_minhash_lsh_pairs(spark, docs_df):
    got = (
        dedup.minhash_lsh_pairs(docs_df, n=3, num_hashes=16, bands=8, threshold=0.5)
        .toPandas()
    )
    pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
    # exact dups MUST collide in every band
    assert (0, 1) in pairs and (0, 5) in pairs and (1, 5) in pairs
    # verified jaccard is exact
    for _, r in got.iterrows():
        assert abs(r["jaccard"] - round(py_jaccard(DOCS[int(r['id_a'])][1], DOCS[int(r['id_b'])][1], 3), 6)) < 1e-9


def test_simhash_clusters(spark, docs_df):
    got = dedup.simhash_dups(docs_df, n=2).toPandas()
    ids = set(got["doc_id"])
    assert {0, 1, 5} <= ids  # identical texts share a simhash
    c = got[got["doc_id"] == 0]["cluster_size"].iloc[0]
    assert c == 3


def _vec_table(spark, n=200, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    # plant exact near-dups
    vecs[10] = vecs[0] * 1.001
    vecs[11] = vecs[0] + 1e-4
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
    return spark.createDataFrame(pdf), vecs


def test_cosine_topk_exact(spark):
    df, vecs = _vec_table(spark)
    probes = df.filter(F.col("vec_id") < 3).withColumnRenamed("vec_id", "probe_id")
    got = (
        similarity.cosine_topk(df, probes, k=5)
        .orderBy("probe_id", "rank")
        .toPandas()
    )
    v = vecs.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    cos = (v @ v.T) / np.outer(norms, norms)
    for pid in range(3):
        order = np.lexsort((np.arange(len(v)), -cos[pid]))[:5]
        got_ids = list(got[got["probe_id"] == pid]["vec_id"])
        assert got_ids == list(order), f"probe {pid}"
    # planted near-dups of 0 rank right behind 0 itself
    top0 = list(got[got["probe_id"] == 0]["vec_id"])[:3]
    assert set(top0) == {0, 10, 11}


def test_lsh_topk_recall(spark):
    df, vecs = _vec_table(spark, n=400)
    probes = df.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "probe_id")
    exact = similarity.cosine_topk(df, probes, k=3).toPandas()
    approx = similarity.lsh_cosine_topk(df, probes, k=3, dim=16, n_planes=4).toPandas()
    # recall@3 of the bucketed variant should be high (same-bucket bias)
    hit = 0
    for pid in range(5):
        e = set(exact[exact["probe_id"] == pid]["vec_id"])
        a = set(approx[approx["probe_id"] == pid]["vec_id"])
        hit += len(e & a)
    assert hit >= 9  # >= 60% recall on 15 slots; planted dups always hit


def test_embedding_near_dup(spark):
    df, vecs = _vec_table(spark)
    got = similarity.embedding_near_dup_exact(df, threshold=0.999).toPandas()
    pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
    assert (0, 10) in pairs and (0, 11) in pairs


def test_ivf_topk_recall(spark):
    df, vecs = _vec_table(spark, n=400)
    probes = df.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "probe_id")
    exact = similarity.cosine_topk(df, probes, k=3).toPandas()
    approx = similarity.ivf_cosine_topk(
        df, probes, k=3, n_centroids=8, n_probe=3
    ).toPandas()
    ex = {(r.probe_id, r.vec_id) for r in exact.itertuples()}
    ap = {(r.probe_id, r.vec_id) for r in approx.itertuples()}
    hit = len(ex & ap)
    assert hit >= 12  # IVF multi-probe should beat the LSH floor (>=80% of 15)


def test_ivf_centroids_deterministic(spark):
    df, _ = _vec_table(spark, n=200)
    a = similarity.train_centroids(df, n_centroids=8, sample=64)
    b = similarity.train_centroids(df, n_centroids=8, sample=64)
    assert (a == b).all()


def _old_simhash_one(text: str, n: int) -> int:
    """The original per-document reference kernel (kept inline to lock the
    vectorized batch kernel to bit-identical output)."""
    import hashlib

    toks = (text or "").split()
    if len(toks) < n:
        return 0
    sh = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
    hs = np.array(
        [int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") for s in sh],
        dtype=np.uint64,
    )
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    val = np.uint64(0)
    for bpos in np.where(votes > 0)[0]:
        val |= np.uint64(1) << np.uint64(bpos)
    return int(np.int64(val.astype(np.int64)))


def test_simhash_batch_kernel_matches_old_per_doc_kernel():
    texts = [t for _, t in DOCS] + ["", "a b", "x " * 50, None]
    got = dedup._np_simhash(pd.Series(texts), 2)
    want = [_old_simhash_one(t, 2) for t in texts]
    assert got.tolist() == want


def test_lsh_verify_never_joins_shingles_all_pairs(spark, docs_df):
    """The exact-Jaccard verify must be candidate-restricted: no join in the
    plan may pair shingle-equality with an id inequality (the all-co-shingled
    self-join shape that banding exists to avoid)."""
    plan = dedup.minhash_lsh_pairs(
        docs_df, n=3, num_hashes=16, bands=8, threshold=0.5
    )._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line and "shingle" in line:
            assert " < " not in line, f"all-pairs co-shingle join found: {line}"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle shared by every doc must not drive O(n^2)
    candidates when the DF cap is set; true near-dups keep their exact
    full-set Jaccard."""
    boiler = "all rights reserved by site"
    rows = [(i, f"unique{i} words{i} here{i} now{i} " + boiler) for i in range(20)]
    rows.append((100, rows[0][1] + " extra"))  # near-dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5, max_shingle_df=5)
    got = {(int(r["id_a"]), int(r["id_b"])): r["jaccard"] for r in capped.collect()}
    # the boilerplate-only pairs are gone; the real near-dup survives with
    # its exact (uncapped) jaccard
    assert set(got) == {(0, 100)}
    assert abs(got[(0, 100)] - round(py_jaccard(rows[0][1], rows[-1][1], 3), 6)) < 1e-9

    uncapped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5)
    assert {(int(r["id_a"]), int(r["id_b"])) for r in uncapped.collect()} == {(0, 100)}


def test_embedding_near_dup_exact_matches_brute_force(spark):
    """Cell-pruned near-dup must equal the all-pairs answer EXACTLY (the
    triangle-inequality prune is conservative, not approximate)."""
    df, vecs = _vec_table(spark, n=120)
    thr = 0.2  # low threshold = many surviving pairs = strong prune test
    got = similarity.embedding_near_dup_exact(df, threshold=thr, n_centroids=8).toPandas()
    got_pairs = {(int(a), int(b)): s for a, b, s in got.itertuples(index=False)}

    v = vecs.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    cos = np.round((v @ v.T) / np.outer(norms, norms), 6)
    want = {
        (i, j): cos[i, j]
        for i in range(len(v))
        for j in range(i + 1, len(v))
        if cos[i, j] >= thr
    }
    assert set(got_pairs) == set(want)
    for k in want:
        assert abs(got_pairs[k] - want[k]) < 2e-6
    # every pair exactly once
    assert len(got) == len(got_pairs)


def test_line_dedup_c4_style(spark):
    footer = "all rights reserved"
    rows = [
        (1, f"unique one\n{footer}\nalpha beta"),
        (2, f"{footer}\nother content here"),
        (3, footer),                      # all-boilerplate doc -> empty
        (4, "solo document body"),        # untouched
        (5, "dup within doc\ndup within doc"),  # intra-doc dup: df=1, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup.line_dedup(df).collect()}
    assert got[1]["clean_text"] == "unique one\nalpha beta"
    assert got[1]["n_lines"] == 3 and got[1]["n_removed"] == 1
    assert got[2]["clean_text"] == "other content here"
    assert got[3]["clean_text"] == "" and got[3]["n_removed"] == 1
    assert got[4]["clean_text"] == "solo document body" and got[4]["n_removed"] == 0
    assert got[5]["clean_text"] == "dup within doc\ndup within doc"


def test_shingle_tokenizer_duckdb_parity_on_edge_whitespace(spark):
    """The dedup/contamination oracle twin (trim() + _WS-class split) must
    tokenize EXACTLY like the engine's F.trim + Java-\\s split, including
    the two hazards the testdata never exercises: edge \\t/\\n (kept as
    empty edge tokens by both) and \\x0b (whitespace in Java, not in
    RE2's \\s)."""
    import duckdb
    from pyspark.sql import functions as F

    texts = [
        "\thello world foo bar baz\n",
        "  spaces only trimmed  ",
        "a\x0bb c d e f g",
        "plain tokens here",
        "",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["w"]
        for r in df.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    want = dict(
        con.execute(
            "SELECT doc_id, string_split_regex(trim(coalesce(text, '')),"
            " '[ \t\n\r\f\x0b]+') FROM t"
        ).fetchall()
    )
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] is None  # engine: null text -> null array (filtered by size)
            assert want[i] == [""]  # oracle: coalesce('') -> [''] (len 1, filtered)
        else:
            assert got[i] == want[i], (i, t, got[i], want[i])
