"""Distributed resumable fetch: the reference's threaded downloader, Spark-shaped.

Re-expresses ``download_images`` (/root/reference/landlensdb/handlers/
cloud.py:447-679) as a DataFrame operator:

- per-row fetch with ``max_retries`` and exponential backoff
  (cloud.py:584-640): HTTP 200 -> success (+bytes), 404 -> permanent
  failure NEVER retried (cloud.py:608-610), anything else -> retry, then
  ``failed_temporary``;
- batches of ``batch_size`` with per-task rate pacing (the reference's 10
  threads / 25-image batches / global rate limiter, cloud.py:453-457 —
  on a cluster the budget divides across tasks);
- resume: ``resume_filter`` drops ids already ``success`` or
  ``failed_permanent`` from a prior run's status table (the JSON status
  cache + skip-existing of cloud.py:483-545), so re-runs do no duplicate
  work and never retry permanent failures.

The sandbox has no network, so the transport is INJECTED: ``fetcher(url)
-> (status_code, bytes)``. The default transport is a clearly-marked stub
that raises ``NotImplementedError`` — swap in a requests/httpx session in
production; the Spark plumbing (batching, retry/permanent semantics, rate
pacing, resume anti-join, Arrow batch shapes) is real and pytest-locked
against fake transports (flaky, 404, rate-limited).

Scale shape: one ``mapInPandas`` pass, no shuffle; resume is a left_anti
join against the done-set (AQE broadcasts it when it fits), and per-task
pacing keeps the AGGREGATE request rate at (rate_per_task x tasks), the
distributed version of the reference's global limiter.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one status vocabulary for the whole engine: fetch statuses feed the same
# resume filters as checkpoint rows
from landlensdb_spark.checkpoint import FAILED_PERMANENT, FAILED_TEMPORARY, SUCCESS

FETCH_SCHEMA_SUFFIX = ", status string, attempts int, content binary"


def default_fetcher(url: str):  # pragma: no cover - stub by design
    """STUB transport (no network in this environment). Production: a
    requests.Session().get with timeouts; same (status_code, bytes) contract."""
    raise NotImplementedError(
        "no network transport available here - inject fetcher=..."
    )


def file_fetcher(url: str) -> tuple[int, bytes | None]:
    """REAL transport for ``file://`` URLs (or bare paths): local / shared
    filesystem mirrors — the no-network production case (every executor
    must see the same mount, exactly like any distributed file source).
    Missing file -> 404 (permanent, never retried); other IO errors raise
    and take the retry/backoff path."""
    from urllib.parse import unquote, urlparse

    path = unquote(urlparse(url).path) if "://" in url else url
    try:
        with open(path, "rb") as f:
            return 200, f.read()
    except FileNotFoundError:
        return 404, None


def fetch_batched(
    df: DataFrame,
    fetcher: Callable[[str], tuple[int, bytes | None]] | None = None,
    id_col: str = "mly_id",
    url_col: str = "image_url",
    max_retries: int = 3,
    batch_size: int = 25,
    max_rps_per_task: float | None = None,
    keep_content: bool = True,
    sleeper: Callable[[float], None] | None = None,
) -> DataFrame:
    """Fetch every row's ``url_col``; returns the input ids + ``status``
    (success / failed_permanent / failed_temporary), ``attempts`` and the
    fetched ``content`` bytes (NULL unless success and ``keep_content``)."""
    fetch = fetcher or default_fetcher
    zzz = sleeper if sleeper is not None else time.sleep
    # preserve the input id type: re-typing ids to string would make the
    # resume anti-join compare string vs bigint (Spark coerces to DOUBLE,
    # losing precision above 2^53) and silently change downstream schemas
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, {url_col} string" + FETCH_SCHEMA_SUFFIX

    def _one(url: str, pace: Callable[[], None]) -> tuple[str, int, bytes | None]:
        for retry in range(max_retries):
            last = retry == max_retries - 1
            try:
                pace()  # every HTTP request pays the rate budget, retries
                code, body = fetch(url)  # included — a 429/5xx storm cannot
            except Exception:  # exceed (rate_per_task x tasks) in aggregate
                if not last:  # connection error -> backoff + retry; no
                    zzz(float(2**retry))  # pointless sleep after the final try
                continue
            if code == 200:
                return SUCCESS, retry + 1, body
            if code == 404:
                return FAILED_PERMANENT, retry + 1, None  # never retried
            if code == 429:
                if not last:
                    zzz(1.0)  # rate limited: pause; does not burn backoff
                continue
            if not last:
                zzz(float(2**retry))
        return FAILED_TEMPORARY, max_retries, None

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        interval = 1.0 / max_rps_per_task if max_rps_per_task else 0.0
        # -inf, not 0.0: time.monotonic()'s epoch is arbitrary (host boot on
        # Linux), so a 0.0 sentinel makes the FIRST request pace whenever
        # monotonic() < interval — i.e. on any host up for less than the
        # pacing interval. The first request must always be free.
        last = [float("-inf")]

        def _pace() -> None:
            if interval:
                wait = last[0] + interval - time.monotonic()
                if wait > 0:
                    zzz(wait)
                last[0] = time.monotonic()

        for pdf in batches:
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo : lo + batch_size]
                statuses, attempts, contents = [], [], []
                for url in chunk[url_col].astype(str):
                    st, att, body = _one(url, _pace)
                    statuses.append(st)
                    attempts.append(att)
                    contents.append(body if (keep_content and st == SUCCESS) else None)
                out = pd.DataFrame(
                    {
                        id_col: chunk[id_col].to_numpy(),
                        url_col: chunk[url_col].astype(str).to_numpy(),
                        "status": statuses,
                        "attempts": attempts,
                        "content": contents,
                    }
                )
                yield out

    # the package's one mapInPandas, on purpose: ``batch_size`` bounds the
    # fetched content held per yielded frame, while map_batches yields one
    # output batch per Arrow input batch and so cannot keep that bound
    return df.select(id_col, url_col).mapInPandas(_run, out_schema)


def resume_filter(
    work: DataFrame, status: DataFrame, id_col: str = "mly_id"
) -> DataFrame:
    """Drop work rows whose id already succeeded or failed permanently —
    the reference's skip-existing + permanent-failure filters
    (cloud.py:531-542); ``failed_temporary`` rows stay eligible. No forced
    broadcast: the done-set is O(all ever-fetched ids) and at 10^9+ images
    would OOM the driver — AQE picks broadcast when it actually fits."""
    done = status.filter(
        F.col("status").isin(SUCCESS, FAILED_PERMANENT)
    ).select(id_col)
    return work.join(done, id_col, "left_anti")


def fetch_plan(
    urls: "DataFrame",
    url_col: str = "url",
    host_col: str | None = None,
    rps_per_host: float = 2.0,
    wave_seconds: float = 1.0,
    order_cols: list[str] | None = None,
) -> "DataFrame":
    """Politeness schedule for a crawl frontier: assign every URL a fetch
    wave so no host sees more than ``rps_per_host * wave_seconds`` requests
    per wave — the distributed planning step in front of
    :func:`fetch_batched`'s per-task pacing.

    The reference rate-limits globally at request time
    (/root/reference/landlensdb/handlers/cloud.py:50-78 sleeps between
    calls); at 10^9 frontier URLs the schedule itself must be computed
    data-parallel: one window per host (``row_number`` ordered by url for
    determinism and SQL-oracle parity), then ``wave = (seq - 1) div per_wave``.
    Executors can then process waves in order (``repartitionByRange(wave)``)
    with each wave's host-fanout bounded by construction. Pure column math;
    the per-host window is the only shuffle and hosts are the natural
    partition key. Deterministic: same frontier -> same schedule (resumes
    re-plan identically).
    """
    from pyspark.sql import Window as _W

    from landlensdb_spark.operators.urls import url_host

    per_wave = max(int(rps_per_host * wave_seconds), 1)
    host = F.col(host_col) if host_col else url_host(F.col(url_col))
    tagged = urls.withColumn("_host", host)
    # duplicate urls across rows would make row_number ties arbitrary;
    # callers pass extra order_cols (e.g. a unique key) for determinism
    order = [F.col(c).asc() for c in (order_cols or [url_col])]
    w = _W.partitionBy("_host").orderBy(*order)
    return (
        tagged.withColumn("_seq", F.row_number().over(w))
        .withColumn(
            "fetch_wave", ((F.col("_seq") - F.lit(1)) / F.lit(per_wave)).cast("long")
        )
        .withColumn("host", F.col("_host"))
        .drop("_host", "_seq")
    )
