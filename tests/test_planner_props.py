"""Property-based planner invariants (hypothesis): chunking is a disjoint
dense cover; resumption never re-plans committed work; holes anywhere in the
committed set are planned exactly; batches round-robin all partitions."""

from hypothesis import given, settings
from hypothesis import strategies as st

from sonic_etl_spark.plans.planner import chunk_range, plan_batches


@given(
    start=st.integers(0, 10_000),
    length=st.integers(0, 5_000),
    chunk=st.integers(1, 1_000),
)
@settings(max_examples=200, deadline=None)
def test_chunk_range_disjoint_dense_cover(start, length, chunk):
    end = start + length
    chunks = list(chunk_range(start, end, chunk))
    # inclusive disjoint cover of [start, end]
    assert chunks[0][0] == start and chunks[-1][1] == end
    covered = 0
    for i, (s, e) in enumerate(chunks):
        assert s <= e and e - s + 1 <= chunk
        covered += e - s + 1
        if i:
            assert s == chunks[i - 1][1] + 1
    assert covered == end - start + 1


@given(
    heads=st.dictionaries(st.integers(0, 6), st.integers(0, 3_000), max_size=6),
    chunk=st.integers(1, 500),
    done_frac=st.floats(0, 1),
)
@settings(max_examples=100, deadline=None)
def test_plan_batches_resume_and_cover(heads, chunk, done_frac):
    # mark a prefix of each partition as committed
    committed = set()
    for pid, head in heads.items():
        done_end = int(head * done_frac) - 1
        if done_end >= 0:
            committed.add((pid, 0, done_end))
    batches = plan_batches(heads, committed, chunk)
    flat = [m for batch in batches for m in batch]
    # never re-plan committed offsets; plan everything else exactly once
    seen: dict[int, list[tuple[int, int]]] = {}
    for pid, s, e in flat:
        done_end = max((de for (p, _s, de) in committed if p == pid), default=-1)
        assert s > done_end
        seen.setdefault(pid, []).append((s, e))
    for pid, head in heads.items():
        done_end = max((de for (p, _s, de) in committed if p == pid), default=-1)
        spans = sorted(seen.get(pid, []))
        if done_end >= head:
            assert spans == []
            continue
        assert spans[0][0] == done_end + 1 and spans[-1][1] == head
        for i in range(1, len(spans)):
            assert spans[i][0] == spans[i - 1][1] + 1


def test_batches_group_one_chunk_per_partition():
    heads = {0: 999, 1: 999, 2: 499}
    batches = plan_batches(heads, set(), 500)
    assert [sorted(p for p, _s, _e in b) for b in batches] == [[0, 1, 2], [0, 1]]


span = st.tuples(st.integers(0, 3), st.integers(0, 400), st.integers(0, 400)).map(
    lambda t: (t[0], min(t[1], t[2]), max(t[1], t[2]))
)


@given(
    heads=st.dictionaries(st.integers(0, 3), st.integers(0, 400), max_size=4),
    committed=st.lists(span, max_size=10),
    chunk=st.integers(1, 120),
)
@settings(max_examples=300, deadline=None)
def test_plan_batches_plans_exactly_the_uncommitted_offsets(heads, committed, chunk):
    """Committed sets with holes and overlaps: the plan is [0, head] minus
    the committed offsets, in disjoint chunks of at most ``chunk`` offsets,
    at most one chunk per partition per batch."""
    batches = plan_batches(heads, set(committed), chunk)
    planned = [(p, o) for batch in batches for p, s, e in batch for o in range(s, e + 1)]
    assert len(planned) == len(set(planned))
    want = {(p, o) for p, head in heads.items() for o in range(head + 1)}
    want -= {(p, o) for p, lo, hi in committed for o in range(lo, hi + 1)}
    assert set(planned) == want
    for batch in batches:
        pids = [p for p, _s, _e in batch]
        assert len(pids) == len(set(pids))
        assert all(s <= e and e - s + 1 <= chunk for _p, s, e in batch)
