"""Async-I/O-style enrichment (SURVEY.md §3.11).

Reference parity: AsyncDataStream / AsyncWaitOperator /
AsyncLookupJoinRunner — per-record async calls against an external
service.  Two tiers:

- ``enrich``: BATCHED enrichment — ``mapInPandas`` hands the client
  whole Arrow batches, the client fans out internally (thread pool /
  asyncio / bulk endpoint) and returns results in order.  Latency
  semantics differ (documented: batch, not per-record); throughput
  semantics are equal-or-better since batching is what the async
  operator exists to approximate.
- ``async_enrich`` (round 6): PER-RECORD asyncio semantics inside each
  Arrow batch — a capacity-bounded in-flight window, a per-record
  timeout, and ordered vs unordered emission, matching
  ``AsyncDataStream.orderedWait / unorderedWait`` (public tree
  flink-streaming-java ``.../async/AsyncWaitOperator.java``: ordered
  buffers completed elements until their predecessors emit; unordered
  emits on completion) and the lookup runner's timeout handling
  (``AsyncLookupJoinRunner``: default timeout fails the job; a
  completing-with-empty handler renders null/drop).

The client is injected — a plain ``fn(pd.Series) -> pd.Series`` for the
batched tier, an ``async fn(value) -> value`` coroutine for the
per-record tier; the engine never hardwires a transport.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..session import ship_package


def _enrich_batches(batches: Iterator[pd.DataFrame], *, fn: Callable,
                    input_col: str, output_col: str, cols: list[str],
                    batch_size: int | None) -> Iterator[pd.DataFrame]:
    """``enrich``'s Arrow stage."""
    for pdf in batches:
        chunks = (
            [pdf[i : i + batch_size] for i in range(0, len(pdf), batch_size)]
            if batch_size
            else [pdf]
        )
        for chunk in chunks:
            if not len(chunk):
                continue
            result = fn(chunk[input_col])
            out = chunk[cols].copy()
            out[output_col] = list(result)
            yield out


def enrich(
    df: DataFrame,
    input_col: str,
    output_col: str,
    output_type: str,
    fn: Callable[[pd.Series], pd.Series],
    batch_size: int | None = None,
) -> DataFrame:
    """Ordered batched enrichment: adds ``output_col`` = fn(input_col).

    ``fn`` receives one pandas Series per Arrow batch (optionally
    re-chunked to ``batch_size``) and must return an equal-length Series
    in the same order — Flink's *ordered* AsyncDataStream mode.
    """
    fields = df.schema.fields
    # copy the field list: StructType(fields) aliases it, and .add would
    # mutate the DataFrame's cached python-side schema in place
    out_schema = StructType(list(fields)).add(output_col, output_type)
    ship_package(df.sparkSession)
    run = functools.partial(
        _enrich_batches, fn=fn, input_col=input_col, output_col=output_col,
        cols=[f.name for f in fields], batch_size=batch_size)
    return df.mapInPandas(run, out_schema)


def _async_enrich_batches(batches: Iterator[pd.DataFrame], *, async_fn: Callable,
                          input_col: str, output_col: str, cols: list[str],
                          ordered: bool, capacity: int,
                          timeout_s: float | None,
                          on_timeout: str) -> Iterator[pd.DataFrame]:
    """``async_enrich``'s Arrow stage."""
    import asyncio

    _TIMEOUT = object()

    async def drive(values: list) -> list[tuple[int, object]]:
        sem = asyncio.Semaphore(capacity)
        done: list[tuple[int, object]] = []

        async def one(i: int, v):
            async with sem:  # timeout starts when the slot is granted
                try:
                    coro = async_fn(v)
                    r = (
                        await asyncio.wait_for(coro, timeout_s)
                        if timeout_s is not None
                        else await coro
                    )
                except asyncio.TimeoutError:
                    if on_timeout == "error":
                        raise TimeoutError(
                            f"async lookup timed out after {timeout_s}s "
                            f"for {input_col}={v!r}"
                        ) from None
                    r = _TIMEOUT
                done.append((i, r))

        tasks = [
            asyncio.create_task(one(i, v)) for i, v in enumerate(values)
        ]
        await asyncio.gather(*tasks)
        return done  # append order == completion order

    for pdf in batches:
        if not len(pdf):
            continue
        completed = asyncio.run(drive(list(pdf[input_col])))
        if ordered:
            completed = sorted(completed, key=lambda t: t[0])
        kept = [
            (i, None if r is _TIMEOUT else r)
            for i, r in completed
            if not (r is _TIMEOUT and on_timeout == "drop")
        ]
        idx = [i for i, _ in kept]
        vals = [v for _, v in kept]
        out = pdf.iloc[idx][cols].copy()
        out[output_col] = vals
        yield out


def async_enrich(
    df: DataFrame,
    input_col: str,
    output_col: str,
    output_type: str,
    async_fn: Callable,
    *,
    ordered: bool = True,
    capacity: int = 100,
    timeout_s: float | None = None,
    on_timeout: str = "error",
) -> DataFrame:
    """Per-record async enrichment (AsyncWaitOperator semantics).

    Inside each Arrow batch, every record issues ``await
    async_fn(value)`` with at most ``capacity`` requests in flight
    (Flink's AsyncDataStream capacity) and an optional per-record
    ``timeout_s`` (measured from issue, like Flink's timer per element
    — queue wait under a full capacity window does not consume it).

    - ``ordered=True`` — ``orderedWait``: rows emit in input order, a
      completed element waits for its predecessors.
    - ``ordered=False`` — ``unorderedWait``: rows emit in completion
      order within the batch (watermark-granularity reordering is moot
      here: the Arrow batch is the emission unit downstream).

    ``on_timeout``: ``"error"`` raises (Flink's default
    ``AsyncFunction.timeout`` fails the job), ``"null"`` emits the row
    with a null enrichment (the lookup-join "complete with empty"
    override), ``"drop"`` omits the row.
    """
    if on_timeout not in ("error", "null", "drop"):
        raise ValueError(f"on_timeout must be error|null|drop, got {on_timeout!r}")
    if capacity < 1:
        # Semaphore(0) would block every lookup forever — the task hangs
        # with no error (round-13 review); fail fast like Flink's
        # AsyncDataStream capacity check
        raise ValueError(f"capacity must be >= 1, got {capacity!r}")
    fields = df.schema.fields
    out_schema = StructType(list(fields)).add(output_col, output_type)
    ship_package(df.sparkSession)
    run = functools.partial(
        _async_enrich_batches, async_fn=async_fn, input_col=input_col,
        output_col=output_col, cols=[f.name for f in fields],
        ordered=ordered, capacity=capacity, timeout_s=timeout_s,
        on_timeout=on_timeout)
    return df.mapInPandas(run, out_schema)
