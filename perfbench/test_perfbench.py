"""Tests for the benchmark's own code: seeded generators, the canonical
table digest, the workbook entry check, span self-time arithmetic, the
host speed normalisation and the small parsers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.compute as pc
import pytest

import checks
import gen
import hostspeed
import workloads
from sparkside import _python_bytes, parse_metric
from spans import Span, Tracer, self_times, tail


@pytest.mark.parametrize("make", [
    lambda seed: gen.lineitem(seed, 2_000),
    lambda seed: gen.events(seed, 3, 500),
])
def test_generators_are_deterministic_per_seed(make):
    assert make(5).equals(make(5))
    assert not make(5).equals(make(6))


def test_lineitem_has_nulls_and_escape_path_strings():
    t = gen.lineitem(1, 20_000)
    for name in t.column_names:
        share = t.column(name).null_count / t.num_rows
        assert 0.01 < share < 0.03, name
    comments = t.column("l_comment").drop_null()
    special = pc.match_substring_regex(comments, r"""[&<>"']|[^\x00-\x7f]""")
    assert 0 < pc.sum(special).as_py() < 0.03 * len(comments)


def test_events_ids_are_unique_across_files():
    ids = [gen.events(1, i, 100).column("event_id") for i in range(3)]
    merged = pa.chunked_array(ids)
    assert pc.count_distinct(merged).as_py() == 300


def _digest(table):
    return checks.table_digest(table)


def test_digest_ignores_row_and_column_order():
    t = gen.lineitem(2, 500)
    shuffled = t.take(pa.array(list(range(499, -1, -1)))).select(t.column_names[::-1])
    assert _digest(shuffled) == _digest(t)


def _replace_cell(t: pa.Table, col: str, row: int, value) -> pa.Table:
    values = t.column(col).to_pylist()
    values[row] = value
    return t.set_column(t.column_names.index(col), col, pa.array(values, t.column(col).type))


def test_digest_catches_one_flipped_cell():
    t = gen.lineitem(2, 500)
    price = t.column("l_extendedprice")[7].as_py() or 1.0
    flipped = _replace_cell(t, "l_extendedprice", 7, price + 2**-30)
    assert _digest(flipped) != _digest(t)


def test_digest_catches_null_versus_value():
    t = gen.lineitem(2, 500)
    row = next(i for i, v in enumerate(t.column("l_tax").to_pylist()) if v is not None)
    assert _digest(_replace_cell(t, "l_tax", row, None)) != _digest(t)


def test_digest_catches_dropped_row():
    t = gen.lineitem(2, 500)
    assert _digest(t.slice(1)) != _digest(t)


def test_digest_catches_duplicated_row():
    t = gen.lineitem(2, 500)
    dup = pa.concat_tables([t.slice(0, 499), t.slice(3, 1)])
    assert dup.num_rows == t.num_rows
    assert _digest(dup) != _digest(t)


def test_digest_compares_timestamps_by_microsecond_not_zone():
    t = gen.events(1, 0, 50).drop_columns(["props"])
    utc = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
    assert _digest(utc) == _digest(t)


def test_workbook_entries_catch_one_changed_cell(tmp_path):
    from pyspark.sql.pandas.types import from_arrow_schema

    t = gen.lineitem(2, 300)
    schema = from_arrow_schema(t.schema)

    def entries(table, name):
        path = str(tmp_path / name)
        workloads._write_sheet(path, table.to_batches(), schema, Tracer(False))
        return workloads._zip_entries(path)

    assert entries(t, "a.xlsx") == entries(t, "b.xlsx")
    assert entries(_replace_cell(t, "l_quantity", 5, 99.0), "c.xlsx") != entries(t, "a.xlsx")


def _span(sid, parent, start, end):
    return Span(f"s{sid}", start, end, sid, parent, "r")


def test_self_time_subtracts_merged_child_coverage():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),   # overlaps the next child
        _span(2, 0, 3.0, 5.0),
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only 8..10 counts
        _span(4, 1, 1.5, 2.0),   # grandchild: charged to span 1 only
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 8.0))
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(2.0)
    assert own[4] == pytest.approx(0.5)


def test_tracer_records_parents_only_while_active(tmp_path):
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.active = False
    with tr.span("ignored"):
        pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == tr.spans[0].id
    tr.dump(tmp_path / "spans.json")
    outer, inner = json.loads((tmp_path / "spans.json").read_text())["spans"]
    assert outer["self"] == pytest.approx(outer["end"] - outer["start"] - (inner["end"] - inner["start"]))


def test_normalized_scales_by_mean_reference_time():
    nominal = hostspeed.REF_NOMINAL_S
    assert hostspeed.normalized(3.0, [nominal] * 4) == pytest.approx(3.0)
    # the reference ran at its nominal time half the run and 1.5x slower
    # the other half: the time is scaled back by the mean factor, 1.25
    mixed = [nominal, 1.5 * nominal] * 3
    assert hostspeed.normalized(5.0, mixed) == pytest.approx(4.0)


def test_ref_seconds_times_every_run_and_restores_the_core_set():
    import os

    before = os.sched_getaffinity(0)
    times = hostspeed.ref_seconds(sorted(before)[:2], reps=2)
    assert len(times) == 2 * min(2, len(before)) and min(times) > 0
    assert os.sched_getaffinity(0) == before
    assert hostspeed.reference_task() == hostspeed.reference_task()


def test_tail_leaves_ten_samples_beyond():
    assert tail(list(range(10))) == (None, None)
    pct, val = tail([float(i) for i in range(100)])
    assert val == 89.0 and sum(v > val for v in range(100)) == 10
    assert pct == 90.0


@pytest.mark.parametrize("text, value", [
    ("8.3 MiB", 8.3 * (1 << 20)),
    ("486 ms", 0.486),
    ("total (min, med, max (stageId: taskId))\n2.7 s (643 ms, 713 ms)", 2.7),
    ("20,000", 20_000.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def _exec(eid, *nodes):
    return {"id": eid, "nodes": [
        {"nodeName": name, "metrics": [{"name": "data sent to Python workers", "value": f"{v} B"}]}
        for name, v in nodes
    ]}


def test_python_bytes_takes_datasource_running_totals_apart():
    execs = [
        _exec(0, ("OverwriteByExpression", 100)),
        _exec(1, ("BatchScan xlsx", 150)),       # running total: +50
        _exec(2, ("OverwriteByExpression", 250), ("MapInPandas", 7)),  # +100, +7
    ]
    assert _python_bytes(execs, sql_mark=0) == 50 + 100 + 7
    assert _python_bytes(execs, sql_mark=1) == 107
