"""Property tests for the offset-span algebra (plans/planner.py) that the
SpanLedger (sources/sinks.py) and the batch planner share.

The ledger is the exactly-once backbone of every non-transactional sink —
an off-by-one in subtract/merge silently duplicates or drops offsets, so
the algebra is checked against a brute-force offset-set model."""

from hypothesis import given, settings
from hypothesis import strategies as st

from sonic_etl_spark.plans.planner import merge_spans, subtract_covered
from sonic_etl_spark.sources.sinks import SpanLedger

span = st.tuples(
    st.integers(min_value=0, max_value=3),      # partition
    st.integers(min_value=0, max_value=60),     # lo
    st.integers(min_value=0, max_value=60),     # hi (normalized below)
).map(lambda t: (t[0], min(t[1], t[2]), max(t[1], t[2])))

spans = st.lists(span, max_size=8)


def offsets(sps):
    return {(p, o) for p, lo, hi in sps for o in range(lo, hi + 1)}


@settings(max_examples=300, deadline=None)
@given(entries=spans, covered=spans)
def test_subtract_is_exact_set_difference(entries, covered):
    todo = subtract_covered(entries, covered)
    assert offsets(todo) == offsets(entries) - offsets(covered)
    # result spans never overlap each other
    seen = set()
    for p, lo, hi in todo:
        for o in range(lo, hi + 1):
            assert (p, o) not in seen
            seen.add((p, o))


@settings(max_examples=300, deadline=None)
@given(sps=spans)
def test_merge_preserves_coverage_and_normalizes(sps):
    merged = merge_spans(sps)
    assert offsets(merged) == offsets(sps)
    # normalized: sorted, non-overlapping, non-adjacent per partition
    for (p1, _l1, h1), (p2, l2, _h2) in zip(merged, merged[1:]):
        if p1 == p2:
            assert l2 > h1 + 1


@settings(max_examples=200, deadline=None)
@given(entries=spans, covered=spans)
def test_subtract_after_advance_is_empty(entries, covered):
    """Publishing todo then advancing the ledger makes redelivery a no-op."""
    todo = subtract_covered(entries, covered)
    new_covered = merge_spans(covered + todo)
    assert subtract_covered(entries, new_covered) == []


def test_concurrent_advance_loses_no_spans(tmp_path):
    """Two writers interleaving advance() on one ledger path must never lose
    a committed span: advance holds an exclusive flock across its
    read-merge-write. (flock on separate fds contends even within one
    process, so threads model two publisher processes faithfully.)"""
    import threading

    ledger = SpanLedger(str(tmp_path / "spans.json"))
    n_each = 50

    def writer(part: int):
        for i in range(n_each):
            ledger.advance([(part, i * 10, i * 10 + 9)])

    threads = [threading.Thread(target=writer, args=(p,)) for p in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    covered = ledger.read()
    # every span committed by either writer is fully covered
    for part in (0, 1):
        assert subtract_covered(
            [(part, 0, n_each * 10 - 1)], covered
        ) == []
