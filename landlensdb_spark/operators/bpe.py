"""BPE vocabulary learning + encoding (Sennrich et al. 2016) at corpus scale.

A tokenizer-training pass is a standard step of a web-scale corpus
pipeline: learn the byte-pair-encoding merge table FROM the corpus, then
encode documents with it. The public algorithm operates on the WORD-TYPE
table (distinct words + frequencies), not the raw corpus, and the word-type
table is corpus-size-INDEPENDENT once frequency-truncated (a 100 TB crawl
and a 1 TB crawl share almost the same top-10^6 word types). That fact
picks the architecture:

``learn_bpe`` — the corpus is touched exactly ONCE, distributed: a
map-side-combined groupBy builds (word, freq) (the same tokenizer family
as dedup/search: lowercase, Java-\\s split). The table is truncated to the
``max_word_types`` most frequent types (deterministic tie-break) and
collected — at the 2M default that is tens of MB, a bounded driver
payload. Merge learning then runs driver-side with the classic
indexed/incremental heap algorithm (the reference implementation shape of
Sennrich's ``learn_bpe`` and of the tokenizers library): a lazy max-heap
over pair counts, and per merge only the words that CONTAIN the merged
pair are rewritten, with exact signed count deltas pushed back. 30k-50k
merges complete in seconds of driver CPU and a CONSTANT number of Spark
jobs. (The previous design ran one shuffle job per merge round — fine at
24 merges, but a real vocab means ~30k sequential job submissions, weeks
of latency at cluster scale before any data cost. Round count must not
multiply job count.)

``apply_bpe`` — encoding replays the learned table with the standard
rank-priority loop (repeatedly merge the lowest-rank pair present in the
word), which reaches the same fixed point as replaying every merge in
rank order: a merge of rank r only ever creates adjacencies involving its
output token, and every learned pair containing that token has rank > r,
so lower-rank pairs can never become applicable again. Caveat
(token-string aliasing): that argument assumes learned pairs are
DISTINCT — a consumed pair can be re-learned when a later merge yields a
token with an identical string ('abc' from both (a,'bc') and ('ab',c)) —
so the rank table keeps the FIRST occurrence's rank, matching sequential
replay's earliest application. This runs in ONE
Arrow-batched pandas UDF stage with a per-batch word→tokens memo (word
types repeat massively in real text), and the plan depth is INDEPENDENT
of merge count. (The previous design stacked one nested higher-order fold
per merge into a single expression tree — at real vocab sizes that
exceeds Catalyst analysis/codegen limits orders of magnitude before data
scale matters.)

Tie-breaks everywhere are (count desc, (left, right) asc) — deterministic
and identical to the independent python oracle twin.
"""

from __future__ import annotations

import pandas as pd  # module-level: the pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EOW = "</w>"

#: driver-side cap on the collected word-type table. Web-scale corpora
#: follow a Zipf law: the types BELOW the top ~2M are hapax-like noise
#: whose pair counts cannot overtake the head during early merges, and
#: standard BPE trainers truncate identically (tokenizers' min_frequency).
DEFAULT_MAX_WORD_TYPES = 2_000_000

#: measured driver bytes per collected word type across the heap-learn
#: working set (word/freq rows + per-word symbol lists of interned 1-char
#: strings + the pair->word-id index sets, which dominate): ~750 B/type
#: via tracemalloc on a 200k-type random table (4-14 char words). The
#: default cap therefore commits ~1.5 GiB of driver memory. ``learn_bpe``
#: converts ``max_word_types`` into this approximate byte bound and
#: REFUSES caps past ``MAX_DRIVER_COLLECT_BYTES`` rather than OOMing the
#: driver mid-collect — raise the budget explicitly after provisioning
#: driver memory, or keep the Zipf-head truncation (the types below the
#: top few million are hapax-like noise whose pair counts cannot overtake
#: the head; standard BPE trainers truncate identically).
BYTES_PER_WORD_TYPE = 750
MAX_DRIVER_COLLECT_BYTES = 4 * 1024**3


def _words(df: DataFrame, text: str) -> DataFrame:
    """(word, freq) over the corpus — lowercase whitespace tokens."""
    from landlensdb_spark.operators.textstats import words_of

    return (
        df.select(F.explode(words_of(F.lower(F.col(text)))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (left,
    right) symbol pairs — one fold, no Python. The column-math twin of
    ``_merge_word`` (property-tested equal); retained as a primitive for
    ad-hoc single-merge column work. The learn/encode hot paths no longer
    chain it per merge (plan depth must not grow with vocab size)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _merge_word(syms: list[str], left: str, right: str, merged: str) -> list[str]:
    """One greedy left-to-right non-overlapping pass. A single pass fully
    applies the pair: the merged token differs from ``left``, so no new
    (left, right) adjacency can appear behind the scan point."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _heap_bpe(
    word_freqs: list[tuple[str, int]], num_merges: int
) -> list[tuple[int, str, str, int]]:
    """Classic indexed incremental BPE over a collected word-type table:
    lazy max-heap of pair counts; per merge, only words containing the
    pair are rewritten and their exact old/new pair-count deltas applied.
    Every live (pair, count) always has a matching heap entry (one is
    pushed on every change), so stale entries are simply skipped on pop.
    O(total deltas * log pairs) — seconds for 50k merges over 10^6 types.
    """
    import heapq
    from collections import Counter

    syms_list: list[list[str]] = [list(w) + [EOW] for w, _ in word_freqs]
    freqs = [f for _, f in word_freqs]
    stats: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for wid, syms in enumerate(syms_list):
        f = freqs[wid]
        for p in zip(syms, syms[1:]):
            stats[p] = stats.get(p, 0) + f
            index.setdefault(p, set()).add(wid)
    heap = [(-n, p) for p, n in stats.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        best = None
        while heap:
            negn, p = heapq.heappop(heap)
            if stats.get(p, 0) == -negn:  # (count desc, pair asc) argmax
                best = (p, -negn)
                break
        if best is None:
            break
        (left, right), n = best
        merges.append((rank, left, right, n))
        merged = left + right
        for wid in index.pop((left, right), set()):
            old = syms_list[wid]
            new = _merge_word(old, left, right, merged)
            f = freqs[wid]
            oldc = Counter(zip(old, old[1:]))
            newc = Counter(zip(new, new[1:]))
            for p in set(oldc) | set(newc):
                d = (newc[p] - oldc[p]) * f
                if d:
                    nn = stats.get(p, 0) + d
                    if nn > 0:
                        stats[p] = nn
                        heapq.heappush(heap, (-nn, p))
                    else:
                        stats.pop(p, None)
                if newc[p] == 0:
                    members = index.get(p)
                    if members is not None:
                        members.discard(wid)
                        if not members:
                            index.pop(p, None)
                elif oldc[p] == 0 and p != (left, right):
                    index.setdefault(p, set()).add(wid)
            syms_list[wid] = new
        stats.pop((left, right), None)  # fully consumed by the greedy pass
    return merges


def learn_bpe(
    df: DataFrame,
    num_merges: int,
    text: str = "text",
    max_word_types: int | None = DEFAULT_MAX_WORD_TYPES,
) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns
    [(rank, left, right, pair_count)] in merge order (rank from 1).
    Stops early when no adjacent pair remains.

    One distributed pass over the corpus (map-side-combined word groupBy,
    frequency-truncated top-``max_word_types`` with deterministic
    (freq desc, word asc) tie-break), ONE collect, then driver-side heap
    learning — Spark job count is constant in ``num_merges``.

    The collect is a driver-memory commitment of ~``max_word_types`` x
    ``BYTES_PER_WORD_TYPE`` (~750 B/type measured, index sets included);
    caps whose estimate exceeds ``MAX_DRIVER_COLLECT_BYTES`` raise up
    front with guidance instead of OOMing mid-collect. ``max_word_types=
    None`` (no truncation) counts the distinct word types first and
    applies the same refusal — None is not an opt-out of the budget.
    """
    if max_word_types is not None:
        est = max_word_types * BYTES_PER_WORD_TYPE
        if est > MAX_DRIVER_COLLECT_BYTES:
            raise ValueError(
                f"max_word_types={max_word_types:,} commits ~{est / 1024**3:.1f} "
                f"GiB of driver memory (~{BYTES_PER_WORD_TYPE} B/type measured; "
                f"budget {MAX_DRIVER_COLLECT_BYTES / 1024**3:.0f} GiB). Lower the "
                "cap, or raise bpe.MAX_DRIVER_COLLECT_BYTES after provisioning "
                "the driver; truncation to the Zipf head is the standard trade "
                "and does not change early merges."
            )
    words = _words(df, text)
    if max_word_types is not None:
        words = words.orderBy(
            F.col("freq").desc(), F.col("word").asc()
        ).limit(max_word_types)
    else:
        # max_word_types=None means an UNBOUNDED collect — exactly the
        # driver-OOM scenario the byte budget exists for (round-6 ADVICE).
        # Count the word types first (cheap: reuses the groupBy's map-side
        # combine) and apply the same refusal before collecting.
        n_types = words.count()
        est = n_types * BYTES_PER_WORD_TYPE
        if est > MAX_DRIVER_COLLECT_BYTES:
            raise ValueError(
                f"max_word_types=None would collect {n_types:,} word types "
                f"(~{est / 1024**3:.1f} GiB of driver memory at "
                f"~{BYTES_PER_WORD_TYPE} B/type; budget "
                f"{MAX_DRIVER_COLLECT_BYTES / 1024**3:.0f} GiB). Pass a "
                "max_word_types cap (Zipf-head truncation does not change "
                "early merges), or raise bpe.MAX_DRIVER_COLLECT_BYTES after "
                "provisioning the driver."
            )
    rows = words.collect()
    return _heap_bpe([(r["word"], int(r["freq"])) for r in rows], num_merges)


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    text: str = "text",
    out: str = "bpe_tokens",
) -> DataFrame:
    """Encode ``text`` with a learned merge table. Output column = array
    of token strings for the whole document (word-major order).

    One Arrow-batched pandas UDF replays the table with the rank-priority
    rule (merge the lowest-rank pair present, repeat) — provably the same
    fixed point as sequential rank-order replay (see module docstring) —
    with a per-batch word→tokens memo. Plan depth and codegen size are
    independent of merge count; the merge table rides in the UDF closure
    (a 50k-merge table is ~1 MB pickled, far under task-broadcast concern).
    Tokenization matches ``learn_bpe``: lowercase, Java-\\s trim/split.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    pair_list = [
        (m[-3] if len(m) == 4 else m[0], m[-2] if len(m) == 4 else m[1])
        for m in merges
    ]
    # first-wins on duplicate pairs: a consumed pair can be RE-learned when
    # a later merge produces a token with an identical string (e.g. 'abc'
    # from both (a,'bc') and ('ab',c) merges). Sequential replay applies
    # such a pair at its EARLIEST appearance, so rank-priority must score
    # it by the first rank — last-wins could diverge from replay.
    ranks: dict[tuple[str, str], int] = {}
    for i, p in enumerate(pair_list):
        ranks.setdefault(p, i)

    @pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        import re

        # Java \s == [ \t\n\x0b\f\r] — NOT python \s (unicode spaces)
        ws = re.compile(r"[ \t\n\r\f\x0b]+")
        edge = re.compile(r"^[ \t\n\r\f\x0b]+|[ \t\n\r\f\x0b]+$")
        memo: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            toks = memo.get(w)
            if toks is None:
                syms = list(w) + [EOW]
                while len(syms) > 1:
                    best = None
                    for p in zip(syms, syms[1:]):
                        rk = ranks.get(p)
                        if rk is not None and (best is None or rk < best):
                            best = rk
                    if best is None:
                        break
                    left, right = pair_list[best]
                    syms = _merge_word(syms, left, right, left + right)
                memo[w] = toks = syms
            return toks

        res = []
        for t in texts:
            t = edge.sub("", (t or "").lower())
            if not t:
                res.append([])
                continue
            doc: list[str] = []
            for w in ws.split(t):
                doc.extend(encode_word(w))
            res.append(doc)
        return pd.Series(res)

    return df.withColumn(out, encode(F.col(text)))
