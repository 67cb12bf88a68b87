"""Round-3 pipeline operators: PII scrub, deterministic sampling, token
shard packing, contamination scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------

def test_pii_counts_and_redaction(spark):
    from landlensdb_spark.operators.pii import scrub_pii

    rows = [
        (1, "write bob.smith+x@corp.example.co or call 555-123-4567 now"),
        (2, "server at 10.0.200.13 and 192.168.1.1, mail a@b.io"),
        (3, "no pii here at all"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r for r in scrub_pii(df).collect()}
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) == (1, 1, 0)
    assert got[1]["redacted"] == "write [EMAIL] or call [PHONE] now"
    assert (got[2]["n_email"], got[2]["n_ipv4"]) == (1, 2)
    assert got[2]["redacted"] == "server at [IP] and [IP], mail [EMAIL]"
    assert (got[3]["n_email"], got[3]["n_phone"], got[3]["n_ipv4"]) == (0, 0, 0)
    assert got[3]["redacted"] == "no pii here at all"
    assert got[4]["redacted"] == ""


def test_pii_email_redacted_before_phone_pattern_can_match(spark):
    from landlensdb_spark.operators.pii import scrub_pii

    # digits inside an email local part must not double-count as phone
    df = spark.createDataFrame([(1, "x 555-123-4567@mail.example.com y")], "id long, text string")
    r = scrub_pii(df).collect()[0]
    assert (r["n_email"], r["n_phone"]) == (1, 1)  # counts scan the raw text
    assert r["redacted"] == "x [EMAIL] y"  # but redaction masks email first


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

def test_hash_sample_deterministic_and_partition_invariant(spark):
    from landlensdb_spark.operators.sampling import hash_sample

    df = spark.range(10_000).select(F.col("id").alias("key"))
    a = sorted(r["key"] for r in hash_sample(df, "key", 100_000).collect())
    b = sorted(
        r["key"]
        for r in hash_sample(df.repartition(13), "key", 100_000).collect()
    )
    assert a == b and len(a) > 0
    # ~10% +- 2% on 10k uniform keys
    assert 800 <= len(a) <= 1200


def test_group_split_leakage_free_and_proportional(spark):
    from landlensdb_spark.operators.sampling import group_split

    # 2000 groups x 5 docs; group strings are realistic host-ish keys
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("host-"), (F.col("id") % 2000).cast("string"),
                 F.lit(".example")).alias("host"),
    )
    out = group_split(
        df.repartition(7), "host", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    rows = out.collect()
    # leakage-free: one host -> exactly one split
    by_host: dict[str, set] = {}
    for r in rows:
        by_host.setdefault(r["host"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_host.values())
    # proportions hold at GROUP granularity (binomial, 2000 groups)
    import collections

    host_split = {r["host"]: r["split"] for r in rows}
    g = collections.Counter(host_split.values())
    assert 1500 <= g["train"] <= 1700 and 120 <= g["val"] <= 280
    # deterministic across repartitioning/reruns
    again = {r["doc_id"]: r["split"] for r in group_split(
        df.repartition(3), "host", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)


def test_group_split_plan_is_pure_jvm(spark):
    """The split column is codegen'd expression math: no Python stage, no
    shuffle — the 100 TB contract (a free column on the scan)."""
    from landlensdb_spark.operators.sampling import group_split

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("h").alias("host")
    )
    plan = group_split(df, "host", {"a": 0.5, "b": 0.5})._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEval", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_group_split_validation(spark):
    from landlensdb_spark.operators.sampling import group_split

    df = spark.range(3).select(F.col("id").cast("string").alias("g"))
    with pytest.raises(ValueError, match="non-empty"):
        group_split(df, "g", {})
    with pytest.raises(ValueError, match="sum"):
        group_split(df, "g", {"a": 0.9, "b": 0.2})


def test_stratified_sample_exact_counts_and_rank(spark):
    from landlensdb_spark.operators.sampling import stratified_sample

    df = spark.range(1000).select(
        F.col("id").alias("key"), (F.col("id") % 7).cast("string").alias("grp")
    )
    out = stratified_sample(df, "grp", "key", 10).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["sample_rank"])
    assert set(by_grp) == {str(i) for i in range(7)}
    for ranks in by_grp.values():
        assert sorted(ranks) == list(range(1, 11))
    # small groups return all their rows
    small = spark.createDataFrame([(1, "a"), (2, "a")], "key long, grp string")
    assert stratified_sample(small, "grp", "key", 10).count() == 2


# ---------------------------------------------------------------------------
# shard packing
# ---------------------------------------------------------------------------

_SHARD_INPUTS = {
    # checkpointed inputs: Catalyst must never copy the key-bucket filter
    # onto a plan side without the key column
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). That copy showed only while the
    # key held the first expression id of the Spark session, hence these
    # cases first, over one shared frame.
    "checkpointed": lambda df: df.localCheckpoint(eager=True),
    "repartitioned_checkpointed": lambda df: df.repartition(4).localCheckpoint(eager=True),
    "plain": lambda df: df,
    "empty": lambda df: df.limit(0),
}


@pytest.fixture(scope="module")
def shard_frame(spark):
    return spark.range(5000).select(
        F.col("id").alias("key"), (F.col("id") % 37 + 1).alias("toks")
    )


@pytest.mark.parametrize("shape", list(_SHARD_INPUTS))
def test_pack_token_shards_matches_global_cumsum(shard_frame, shape):
    from pyspark.sql import Window

    from landlensdb_spark.operators.shards import pack_token_shards

    df = _SHARD_INPUTS[shape](shard_frame)
    got = {
        r["key"]: r["shard_id"]
        for r in pack_token_shards(df, "toks", "key", 500, num_partitions=8).collect()
    }
    w = Window.orderBy("key")
    want = {
        r["key"]: r["want"]
        for r in df.withColumn(
            "want",
            F.floor((F.sum("toks").over(w) - F.col("toks")) / F.lit(500)),
        ).collect()
    }
    assert len(want) == (0 if shape == "empty" else 5000)
    assert got == want
    # invariant to the partition count (the whole point of the 2-phase scan)
    got3 = {
        r["key"]: r["shard_id"]
        for r in pack_token_shards(df, "toks", "key", 500, num_partitions=3).collect()
    }
    assert got3 == want


def test_pack_token_shards_contiguous(spark):
    from landlensdb_spark.operators.shards import pack_token_shards

    df = spark.range(300).select(F.col("id").alias("key"), F.lit(7).alias("toks"))
    rows = sorted(
        pack_token_shards(df, "toks", "key", 100, num_partitions=4).collect(),
        key=lambda r: r["key"],
    )
    shard_ids = [r["shard_id"] for r in rows]
    assert shard_ids == sorted(shard_ids)  # monotone over key order
    assert shard_ids[0] == 0 and len(set(shard_ids)) > 1


def test_corpus_prep_and_token_shards_job_counts(spark, sf_dir, jobs_run):
    """Driver round trips are the fixed cost of small corpus runs: the
    construction runs the eager checkpoint (carrying the key quantiles, plus
    the dedup window's shuffle stage as its own AQE job) and one totals
    collect (map stage + result), nothing else."""
    from landlensdb_spark import tables
    from landlensdb_spark.entry_queries import QUERIES, corpus_prep_over

    docs = tables.load(spark, sf_dir, "documents")
    out, n = jobs_run("corpus_prep_construct", lambda: corpus_prep_over(docs))
    assert n <= 4, f"corpus_prep_over construction ran {n} jobs"
    _, n = jobs_run("corpus_prep_count", out.count)
    assert n <= 2, f"count() over corpus_prep_over ran {n} jobs"
    _, n = jobs_run(
        "token_shards_construct", lambda: QUERIES["token_shards"](spark, sf_dir)
    )
    assert n <= 4, f"token_shards construction ran {n} jobs"


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------

def test_contamination_scores_known_overlap(spark):
    from landlensdb_spark.operators.contamination import contamination_scores

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # identical
            (2, "a quick brown fox jumps over a sleepy cat today"),
            (3, "completely different words in this one right here"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in contamination_scores(corpus, bench, n=5).collect()}
    assert got[1]["contamination"] == 1.0 and got[1]["n_shingles"] == 5
    # doc 2 shares exactly 'quick brown fox jumps over' (the only common 5-gram)
    assert got[2]["n_contaminated"] == 1 and got[2]["n_shingles"] == 6
    assert got[3]["n_contaminated"] == 0 and got[3]["contamination"] == 0.0
    assert (got[4]["n_shingles"], got[4]["contamination"]) == (0, 0.0)


# ---------------------------------------------------------------------------
# search (postings + BM25)
# ---------------------------------------------------------------------------

def test_build_postings_and_term_stats(spark):
    from landlensdb_spark.operators.search import build_postings, term_stats

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "  "), (4, "A")],
        "doc_id long, text string",
    )
    post = {
        (r["term"], r["doc_id"]): r["tf"] for r in build_postings(df).collect()
    }
    assert post == {("a", 1): 2, ("b", 1): 1, ("b", 2): 1, ("c", 2): 1, ("a", 4): 1}
    stats = {r["term"]: (r["df"], r["cf"]) for r in term_stats(build_postings(df)).collect()}
    assert stats == {"a": (2, 3), "b": (2, 2), "c": (1, 1)}


def test_bm25_matches_hand_formula(spark):
    import math

    from landlensdb_spark.operators.search import bm25_search

    rows = [(1, "x y x"), (2, "x z"), (3, "z z z z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["score"], r["rank"]) for r in bm25_search(df, ["x"]).collect()}
    n, avgdl, k1, b = 3, 3.0, 1.2, 0.75
    idf = math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5))

    def s(tf, dl):
        return round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    assert got == {1: (s(2, 3), 1), 2: (s(1, 2), 2)}  # doc 3 has no 'x'


def test_bm25_top_uses_distributed_topk(spark):
    from landlensdb_spark.operators.search import bm25_search

    df = spark.createDataFrame(
        [(i, "common term" + (" rare" if i == 5 else "")) for i in range(100)],
        "doc_id long, text string",
    )
    out = bm25_search(df, ["rare", "common"], top=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert len(rows) == 10
    assert rows[0]["doc_id"] == 5  # the only doc matching the rare term wins
    assert [r["rank"] for r in rows] == list(range(1, 11))


# ---------------------------------------------------------------------------
# repeated-substring spans
# ---------------------------------------------------------------------------

def test_repeated_spans_merge_and_coordinates(spark):
    from landlensdb_spark.operators.spans import repeated_spans

    boiler = "all rights reserved by the original content owner here"  # 9 toks
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"{boiler} unrelated tail words go here now right"),
        (3, "nothing shared with anybody in this document at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repeated_spans(df, win=9, min_count=2).collect()}
    # doc1: boiler occupies tokens [2, 11) -> exactly one 9-window at pos 2
    assert (got[1]["span_start"], got[1]["span_end"], got[1]["n_windows"]) == (2, 11, 1)
    # doc2: boiler at [0, 9)
    assert (got[2]["span_start"], got[2]["span_end"]) == (0, 9)
    assert 3 not in got


def test_repeated_spans_islands_split_and_merge(spark):
    from landlensdb_spark.operators.spans import repeated_spans

    rep = "x1 x2 x3"  # win=3 window
    rows = [
        # two copies of `rep` far apart in the same doc -> repeated via
        # self-count; gap > win so islands stay separate
        (1, f"{rep} a b c d e f g h {rep}"),
        # overlapping repeats merge: 'x1 x2 x3 x1 x2 x3' windows at 0..3
        (2, f"{rep} {rep}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_spans(df, win=3, min_count=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_windows"])
        )
    spans1 = sorted(by_doc[1])
    assert spans1[0][0] == 0 and spans1[-1][1] == 14  # islands at both ends
    assert len(spans1) == 2
    assert len(by_doc[2]) == 1  # one merged span covering the whole doc
    assert by_doc[2][0][0] == 0 and by_doc[2][0][1] == 6


# ---------------------------------------------------------------------------
# WARC codec
# ---------------------------------------------------------------------------

def test_warc_roundtrip_and_malformed():
    import pytest

    from landlensdb_spark.operators.warc import build_warc, parse_warc_bytes

    recs = [
        {
            "warc_type": "warcinfo",
            "payload": b"software: landlensdb-spark",
            "content_type": "application/warc-fields",
        },
        {
            "warc_type": "response",
            "target_uri": "https://a.example.com/x",
            "warc_date": "2022-06-01T12:00:00Z",
            "content_type": "text/html",
            # payload containing CRLFs and a fake header block must not
            # confuse the Content-Length-delimited framing
            "payload": b"<html>\r\n\r\nWARC/1.0\r\nContent-Length: 9999\r\n\r\n</html>",
        },
    ]
    out = parse_warc_bytes(build_warc(recs))
    assert len(out) == 2
    assert out[0]["warc_type"] == "warcinfo" and out[0]["target_uri"] is None
    assert out[1]["target_uri"] == "https://a.example.com/x"
    assert out[1]["payload"] == recs[1]["payload"]
    assert out[1]["content_length"] == len(recs[1]["payload"])

    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc_bytes(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n")

    # trailing garbage after the last full separator stays tolerated
    assert len(parse_warc_bytes(build_warc(recs[:1]) + b"\x00padding")) == 1

    # truncated payload must fail loudly, not emit a short payload
    whole = build_warc(recs[:1])
    with pytest.raises(ValueError, match="truncated"):
        parse_warc_bytes(whole[:-10])

    # negative Content-Length must fail loudly (a crafted value such that
    # the cursor lands back on the record start would otherwise loop forever)
    with pytest.raises(ValueError, match="negative"):
        parse_warc_bytes(b"WARC/1.0\r\nContent-Length: -37\r\n\r\n")

    # wrong Content-Length breaks the separator -> loud, not silent drop
    # of every later record
    with pytest.raises(ValueError, match="separator"):
        parse_warc_bytes(b"WARC/1.0\r\nContent-Length: 2\r\n\r\nbody\r\n\r\n")


def test_warc_records_operator(spark):
    from landlensdb_spark.operators.warc import build_warc, warc_records

    blob = build_warc(
        [
            {"warc_type": "response", "target_uri": f"u{i}", "payload": bytes([65 + i]) * (i + 1)}
            for i in range(3)
        ]
    )
    df = spark.createDataFrame([("seg0", bytearray(blob))], "path string, content binary")
    rows = sorted(warc_records(df).collect(), key=lambda r: r["target_uri"])
    assert [r["path"] for r in rows] == ["seg0"] * 3
    assert [(r["target_uri"], r["content_length"]) for r in rows] == [
        ("u0", 1), ("u1", 2), ("u2", 3),
    ]
    assert bytes(rows[2]["payload"]) == b"CCC"


def test_remove_spans_cuts_and_passthrough(spark):
    from landlensdb_spark.operators.spans import remove_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z"), (3, "")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 1, 3, 1), (1, 5, 6, 1)],
        "doc_id long, span_start long, span_end long, n_windows long",
    )
    got = {r["doc_id"]: r for r in remove_spans(docs, spans).collect()}
    assert got[1]["clean_text"] == "a d e" and got[1]["n_removed"] == 3
    assert got[1]["n_tokens"] == 6
    assert got[2]["clean_text"] == "x y z" and got[2]["n_removed"] == 0
    assert got[3]["clean_text"] == "" and got[3]["n_tokens"] == 0


def test_balance_sources_fractions(spark):
    from landlensdb_spark.operators.sampling import balance_sources

    df = spark.range(9000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    out = balance_sources(df, "source", {"s0": 0.5, "s1": 0.1})
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["s2"] == 3000  # unlisted group kept whole
    assert 1300 <= counts["s0"] <= 1700  # ~50% of 3000
    assert 200 <= counts["s1"] <= 400  # ~10% of 3000
    # deterministic across reruns
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in balance_sources(df.repartition(7), "source", {"s0": 0.5, "s1": 0.1}).collect())
    assert a == b


def test_spans_tokenizer_has_no_phantom_tokens(spark):
    """Trailing newline/NULL text must not mint phantom empty tokens that
    shift span coordinates or inflate n_tokens (words_of tokenizer)."""
    from landlensdb_spark.operators.spans import remove_spans, repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d\n"), (2, "a b c d"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    spans = repeated_spans(docs, win=4, min_count=2)
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in spans.collect()}
    assert got == {(1, 0, 4), (2, 0, 4)}  # doc 1's trailing \n changes nothing
    out = {r["doc_id"]: r for r in remove_spans(docs, spans).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["clean_text"] == ""
    assert out[3]["clean_text"] == "" and out[3]["n_tokens"] == 0
    assert out[4]["n_tokens"] == 0 and out[4]["n_removed"] == 0


# ---------------------------------------------------------------------------
# bigram LM scoring
# ---------------------------------------------------------------------------

def test_lm_scores_hand_computed(spark):
    import math

    from landlensdb_spark.operators.lm import BOS, lm_scores

    # corpus: "a b" x2, "a c" -> bigrams: (BOS,a)x3, (a,b)x2, (a,c)x1
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in lm_scores(docs, add_k=0.5).collect()}
    v = 3  # vocab: a, b, c
    p_bos_a = (3 + 0.5) / (3 + 0.5 * v)
    p_a_b = (2 + 0.5) / (3 + 0.5 * v)
    p_a_c = (1 + 0.5) / (3 + 0.5 * v)
    lp = lambda *ps: round(sum(math.log2(p) for p in ps) / len(ps), 6)
    assert got[1]["logprob"] == lp(p_bos_a, p_a_b) and got[1]["n_bigrams"] == 2
    assert got[3]["logprob"] == lp(p_bos_a, p_a_c)
    assert got[1]["logprob"] > got[3]["logprob"]  # common bigram scores higher
    assert 4 not in got  # empty doc has no bigrams


def test_lm_model_is_dataframes_not_driver_state(spark):
    from landlensdb_spark.operators.lm import train_bigram_counts

    docs = spark.createDataFrame([(1, "x y x y z")], "doc_id long, text string")
    bigrams, contexts, vocab = train_bigram_counts(docs)
    bc = {(r["prev"], r["word"]): r["c_bg"] for r in bigrams.collect()}
    assert bc[("x", "y")] == 2 and bc[("y", "x")] == 1 and bc[("y", "z")] == 1
    assert {r["prev"]: r["c_ctx"] for r in contexts.collect()}["x"] == 2
    assert vocab.collect()[0]["v"] == 3


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def test_pagerank_known_graph(spark):
    from landlensdb_spark.operators.graph import pagerank

    # 1 -> 2, 1 -> 3, 2 -> 3: node 3 must rank highest, node 1 lowest
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=20).collect()}
    assert got[3] > got[2] > got[1]
    assert abs(sum(got.values()) - 1.0) < 1e-3  # mass conserved (dangling 3)


def test_pagerank_uniform_cycle(spark):
    from landlensdb_spark.operators.graph import pagerank

    # a 4-cycle is symmetric: every node gets exactly 1/4
    edges = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=8).collect()}
    assert got == {0: 0.25, 1: 0.25, 2: 0.25, 3: 0.25}


# ---------------------------------------------------------------------------
# duplicate-cluster canonicalization
# ---------------------------------------------------------------------------

def test_dup_clusters_transitive_components(spark):
    from landlensdb_spark.operators.dedup import dup_clusters

    # chain 1~2, 2~3 (1 and 3 never paired directly) + separate pair 10~11
    pairs = spark.createDataFrame(
        [(2, 1, 0.9), (2, 3, 0.9), (10, 11, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in dup_clusters(pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False),
    }


def test_dup_clusters_convergence_guard(spark):
    """A diameter-7 chain under 5 iterations used to silently split the
    component; the guard must raise instead, and the same input converges
    with iterations=7 (round-3 VERDICT #5)."""
    import pytest

    from landlensdb_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="did not converge in 5"):
        dup_clusters(chain, iterations=5)
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(chain, iterations=7).collect()}
    assert got == {i: 1 for i in range(1, 9)}
