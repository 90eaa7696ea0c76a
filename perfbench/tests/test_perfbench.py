"""Tests of the benchmark's own helpers: no Spark session is started.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                   # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # repository root

import ops  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


# -- percentile-rank helper ------------------------------------------------

def test_tail_rank_leaves_ten_samples_beyond():
    assert stats.tail_rank(10) is None
    assert stats.tail_rank(11) == 0
    for n in (11, 16, 32, 100):
        i = stats.tail_rank(n)
        assert n - 1 - i == 10


def test_tail_value_and_percentile():
    xs = [float(v) for v in range(1, 33)]      # 1..32, shuffled below
    xs = xs[::2] + xs[1::2]
    value, pct = stats.tail(xs)
    assert value == 22.0                       # 10 samples (23..32) beyond
    assert pct == pytest.approx(100.0 * 22 / 32)
    assert stats.tail(xs[:10]) is None


def test_rank_classes_names_the_band():
    samples = [("fast", 0.1)] * 6 + [("mid", 0.5)] * 20 + [("slow", 2.0)] * 6
    assert stats.rank_classes(samples) == {"p50": "mid", "tail": "mid"}


# -- op sequences ----------------------------------------------------------

def _keys(seq):
    return [op.key for op in seq]


def test_same_seed_same_serve_sequence():
    assert _keys(ops.spatial_serve_ops(11, 3)) == _keys(ops.spatial_serve_ops(11, 3))
    assert _keys(ops.spatial_serve_ops(11, 3)) != _keys(ops.spatial_serve_ops(12, 3))


def test_serve_class_counts_do_not_depend_on_seed():
    want = {c: 2 * (f + r) for c, (f, r) in ops.SERVE_ROUND.items()}
    for seed in range(20):
        seq = ops.spatial_serve_ops(seed, 2)
        assert ops.class_counts(seq) == want
        assert sum(not op.fresh for op in seq) == len(seq) // 2
        assert sum(op.detector_miss for op in seq) == len(seq) // 16


def test_serve_repeats_reissue_an_earlier_statement():
    seq = ops.spatial_serve_ops(5, 3)
    for i, op in enumerate(seq):
        if not op.fresh:
            assert op.key in {o.key for o in seq[:i] if o.fresh and o.cls == op.cls}


def test_missed_spellings_take_turns():
    marker = {"comment": "/*", "backticks": "`", "paren_on": "ON (",
              "cte": "WITH c AS"}
    for seed in range(10):
        seq = ops.spatial_serve_ops(seed, 4)
        missed = [op.sql[0] for op in seq if op.cls == "missed_join"]
        spelled = [sp for sql in missed for sp, m in marker.items() if m in sql]
        assert sorted(spelled) == sorted(ops.MISSED_SPELLINGS)


def test_light_lakehouse_cycles_read_once():
    light, full = ops.lakehouse_ops(2, 2, light=1)
    reads = [sum(op.cls == "lake_range" for op in c) for c in (light, full)]
    assert reads == [1, ops.RANGE_READS_PER_CYCLE]


def test_same_seed_same_lakehouse_sequence():
    a = [_keys(c) for c in ops.lakehouse_ops(3, 2)]
    assert a == [_keys(c) for c in ops.lakehouse_ops(3, 2)]
    assert a != [_keys(c) for c in ops.lakehouse_ops(4, 2)]


def test_lakehouse_class_counts_do_not_depend_on_seed():
    counts = {str(sorted(ops.class_counts(sum(ops.lakehouse_ops(s, 2), [])).items()))
              for s in range(20)}
    assert len(counts) == 1


def test_lakehouse_inserts_never_reuse_keys():
    seq = sum(ops.lakehouse_ops(9, 50), [])
    inserts = [op.sql[0] for op in seq if op.cls == "insert"]
    assert len(set(inserts)) == len(inserts)


def test_missed_spellings_keep_the_planned_rows():
    # every spelling is the same join over the same key window
    for sp in ops.MISSED_SPELLINGS:
        sql = ops.missed_join_sql(sp, 10, 20)
        assert "BETWEEN 10 AND 20" in sql and "boxes" in sql


# -- correctness gate --------------------------------------------------------

def test_gate_rejects_one_altered_row():
    gate = pytest.importorskip("gate")
    cols = ["id_l", "id_r"]
    rows = [(i, i % 25) for i in range(100)]
    assert gate.compare((cols, rows), (cols, list(reversed(rows)))) is None
    altered = list(rows)
    altered[37] = (37, 99)
    assert "values differ (1 rows)" in gate.compare((cols, altered), (cols, rows))
    assert "rowcount" in gate.compare((cols, rows[:-1]), (cols, rows))


def test_gate_against_duckdb_mirror(tmp_path):
    gate = pytest.importorskip("gate")
    import datagen

    data = datagen.write_tables(str(tmp_path))
    oracle = gate.Oracle(data)
    try:
        op = ops.spatial_serve_ops(1, 1)[0]
        cols, rows = oracle.rows(op.mirror)
        assert gate.compare((cols, rows), (cols, rows)) is None
        bad = list(rows)
        bad[0] = tuple(v + 1 if isinstance(v, (int, float)) else v
                       for v in bad[0])
        assert gate.compare((cols, bad), (cols, rows)) is not None
    finally:
        oracle.close()


# -- spans -------------------------------------------------------------------

def test_self_time_of_nested_spans():
    spans = [Span(0, "op", 0.0, 10.0),
             Span(1, "session.sql", 1.0, 4.0, parent=0),
             Span(2, "side", 2.0, 3.0, parent=1),
             Span(3, "materialize", 3.5, 9.0, parent=0)]   # overlaps span 1
    st = self_times(spans)
    assert st[2] == pytest.approx(1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(5.5)
    assert st[0] == pytest.approx(10.0 - 8.0)   # union of [1,4] and [3.5,9]


def test_child_outside_parent_is_clipped():
    spans = [Span(0, "p", 0.0, 2.0), Span(1, "c", 1.0, 5.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_records_parents_and_nothing_when_off():
    t = Tracer(True)
    with t.span("a"):
        with t.span("b"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0)]
    off = Tracer(False)
    with off.span("a") as sp:
        assert sp is None
    assert off.spans == []
