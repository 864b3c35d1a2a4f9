"""Batch planner: offset-range manifests over the change log, and the one
offset-span algebra every consumer of a committed-span set uses.

Re-expresses the reference coordinator (indexing_coordinator/
publish_ranges.py): poll the log head (S1, :68-83), chunk the new interval
into ≤chunk_size inclusive disjoint ranges (S2, :122-146), and resume from
the last committed position (ST2, :148-203). Here:

- the "head" is ``max(offset)`` per partition of the change-log table — a
  single partial-aggregated scan, no RPC loop;
- manifests are plain tuples ``(partition_id, offset_start, offset_end)``;
- resumption reads the sink's committed-manifest set instead of a Pub/Sub
  resumption topic — the checkpoint *is* the transactional table state, so
  there is no window where the checkpoint and the data disagree;
- the plan is ``[0, head]`` minus the committed set (:func:`subtract_covered`),
  so a hole anywhere in the set is planned like the tail: the reference's
  forward coordinator and its separate daily backfill DAG
  (daily_backfill_mainnet.py:102-160, ST5) are one subtraction here.

A batch groups one chunk per partition so every micro-batch touches all log
partitions (Spark parallelizes within the scan); chunk_size plays the role of
the coordinator's 1000-offset work unit.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from itertools import zip_longest

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

Span = tuple[int, int, int]  # (partition_id, offset_start, offset_end), inclusive


def chunk_range(start: int, end: int, chunk_size: int = 1000) -> Iterator[tuple[int, int]]:
    """Split inclusive [start, end] into disjoint inclusive chunks ≤chunk_size.

    Same contract as publish_ranges.py:122-146 (not a copy: three lines of
    arithmetic have one shape).
    """
    s = start
    while s <= end:
        e = min(s + chunk_size - 1, end)
        yield (s, e)
        s = e + 1


def merge_spans(spans: Iterable[Span]) -> list[Span]:
    """Normalize (p, lo, hi) spans: sorted, disjoint, adjacent runs merged."""
    runs: list[list[int]] = []
    last = None
    for p, lo, hi in sorted(map(tuple, spans)):
        if last and last[0] == p and lo <= last[2] + 1:
            if hi > last[2]:
                last[2] = hi
        else:
            last = [p, lo, hi]
            runs.append(last)
    return [tuple(r) for r in runs]


def subtract_covered(entries: Iterable[Span], covered: Iterable[Span]) -> list[Span]:
    """Offsets of ``entries`` minus those of ``covered``, as spans.

    Output is NORMALIZED (sorted, disjoint, adjacent runs merged) even if
    the inputs overlap or repeat — so batch-dir names, row filters and plans
    built from it never double-claim an offset. One sweep over both sorted
    inputs: O((E + C) log(E + C))."""
    cov = merge_spans(covered)
    out: list[Span] = []
    i = 0
    for p, lo, hi in merge_spans(entries):
        while i < len(cov) and (cov[i][0], cov[i][2]) < (p, lo):
            i += 1  # covered span wholly before this entry
        j = i
        while lo <= hi and j < len(cov) and cov[j][0] == p and cov[j][1] <= hi:
            if cov[j][1] > lo:
                out.append((p, lo, cov[j][1] - 1))
            lo = max(lo, cov[j][2] + 1)
            j += 1
        if lo <= hi:
            out.append((p, lo, hi))
    return out


def log_heads(change_log: DataFrame) -> dict[int, int]:
    """Per-partition max offset — the analog of eth_blockNumber (S1)."""
    rows = change_log.groupBy("partition_id").agg(F.max("offset").alias("head")).collect()
    return {r["partition_id"]: r["head"] for r in rows}


def plan_batches(
    heads: dict[int, int],
    committed: set[Span],
    chunk_size: int = 1000,
) -> list[list[Span]]:
    """Plan every uncommitted offset ``[0, head] − committed`` as
    (partition, start, end) chunks, grouped into micro-batches of one chunk
    per partition.

    Each uncommitted span is chunked from its own start, so a dense-prefix
    committed set resumes right after its end, and a hole (a stream's
    skipped files, manifest surgery, a re-appearing partition) is planned
    ahead of the tail in the same pass.
    """
    todo = subtract_covered(((pid, 0, head) for pid, head in heads.items()), committed)
    per_partition: dict[int, list[Span]] = {}
    for pid, lo, hi in todo:
        per_partition.setdefault(pid, []).extend(
            (pid, s, e) for s, e in chunk_range(lo, hi, chunk_size)
        )
    return [
        [c for c in rnd if c is not None]
        for rnd in zip_longest(*per_partition.values())
    ]


def filter_to_manifests(change_log: DataFrame, manifests: list[tuple[int, int, int]]) -> DataFrame:
    """Scan predicate for one micro-batch: OR of per-partition offset ranges.

    Expressed as a disjunction of range predicates so it pushes down to the
    parquet row-group / Iceberg partition level (PushedFilters), instead of a
    driver-side collect-and-loop.
    """
    pred = None
    for pid, s, e in manifests:
        p = (F.col("partition_id") == pid) & F.col("offset").between(s, e)
        pred = p if pred is None else (pred | p)
    if pred is None:
        return change_log.limit(0)
    return change_log.filter(pred)
