"""Concurrent HTTP fetch as a distributed operator (SURVEY S4/H13).

Reference behavior: download/url.py:104-206 wraps a ThreadPool yielding
``(obj, url, data, exc, code)`` per request; download/modules/segments.py
re-queues 413/429/503 groups with reduced concurrency.

Spark shape: one request per row; ``mapInPandas(fetch)`` over the
request frame's own partitions runs executor-side thread pools, so 1000
executors x ``threads`` in-flight requests with no driver bottleneck
(``fetch_rows`` does not repartition: the caller's partitioning decides
how requests spread over tasks). The result is never an exception:
every row comes back as (data, code, error) columns — the reference's
error-tuple contract — and downstream stages filter/branch on them.

The transport is injectable: tests (and offline runs) pass a deterministic
callable; the default is stdlib urllib. Retry/backoff on 429/503/413 with
halved concurrency per attempt (H13) happens inside the partition.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame

Transport = Callable[[str, bytes | None], tuple[bytes | None, int]]

RETRY_CODES = (413, 429, 503)

FETCH_RESULT_DDL = "data binary, code int, error string"


def urllib_transport(timeout: float = 30.0) -> Transport:
    """Default stdlib transport: GET (or POST when body is not None)."""
    def _do(url: str, body: bytes | None) -> tuple[bytes | None, int]:
        import urllib.error
        import urllib.request
        try:
            req = urllib.request.Request(url, data=body)
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.read(), resp.status
        except urllib.error.HTTPError as exc:
            return None, exc.code
    return _do


def fetch_rows(
    df: DataFrame,
    url_col: str = "url",
    body_col: str | None = None,
    transport: Transport | None = None,
    threads: int = 8,
    max_attempts: int = 3,
    backoff_sec: float = 1.0,
) -> DataFrame:
    """Append (data, code, error) to each request row.

    Per partition: a thread pool of ``threads`` workers; rows whose status
    is in RETRY_CODES are retried up to ``max_attempts`` with halved
    concurrency and ``backoff_sec * attempt`` sleeps (the reference's
    reduced-concurrency requeue). Transport exceptions become
    (None, -1, msg) rows — never task failures."""
    tp = transport or urllib_transport()
    in_cols = [c for c in df.columns]
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + FETCH_RESULT_DDL

    def _one(url, body):
        try:
            data, code = tp(url, body)
            return data, code, None
        except Exception as exc:  # noqa: BLE001 — error-tuple contract
            return None, -1, f"{type(exc).__name__}: {exc}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            urls = pdf[url_col].tolist()
            bodies = pdf[body_col].tolist() if body_col else [None] * len(pdf)
            results: list[tuple] = [None] * len(pdf)
            todo = list(range(len(pdf)))
            attempt, width = 1, threads
            while todo:
                with ThreadPoolExecutor(max_workers=max(width, 1)) as pool:
                    got = list(pool.map(
                        lambda i: _one(urls[i], bodies[i]), todo))
                retry_next = []
                for i, res in zip(todo, got):
                    results[i] = res
                    if res[1] in RETRY_CODES and attempt < max_attempts:
                        retry_next.append(i)
                todo = retry_next
                if todo:
                    time.sleep(backoff_sec * attempt)
                    width = max(width // 2, 1)  # reduced concurrency (H13)
                    attempt += 1
            out = pdf[in_cols].copy()
            out["data"] = [r[0] for r in results]
            out["code"] = pd.Series([r[1] for r in results], dtype="int32")
            out["error"] = [r[2] for r in results]
            yield out

    return df.mapInPandas(run, out_ddl)
