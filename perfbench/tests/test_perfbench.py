"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import data, draws  # noqa: E402
from perfbench.stats import covered, percentile, self_time, tail_percentile  # noqa: E402


# -- percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n, expected", [
    (1000, 99.0), (200, 95.0), (199, 90.0), (100, 90.0), (99, 80.0),
    (50, 80.0), (40, 75.0), (39, 50.0), (20, 50.0), (19, None), (0, None),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert n * (100 - p) / 100 >= 10


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(7)
    xs = list(rng.exponential(1.0, 37))
    for p in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


# -- self time ----------------------------------------------------------------

def test_self_time_subtracts_union_of_children_clipped_to_parent():
    # children overlap each other ([1,3] and [2,5]) and one runs past the
    # parent's end ([8,12]); covered = [1,5] + [8,10] = 6
    kids = [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]
    assert covered(0.0, 10.0, kids) == pytest.approx(6.0)
    assert self_time(0.0, 10.0, kids) == pytest.approx(4.0)
    assert self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert self_time(0.0, 10.0, [(11.0, 12.0)]) == pytest.approx(10.0)


def test_layer_self_times_add_up_to_op_wall_time():
    from perfbench.trace import Span

    op = Span("op", 0.0, 10.0)
    build = Span("build", 0.5, 4.0, [Span("io.load_table", 0.6, 0.9),
                                      Span("stream.batch", 1.0, 3.5)])
    op.children = [build, Span("exec", 4.0, 9.8, [Span("catalyst.optimization", 4.1, 4.5),
                                                  Span("catalyst.planning", 4.5, 4.6)])]
    assert sum(s.self_s() for s in op.walk()) == pytest.approx(10.0)
    assert build.self_s() == pytest.approx(3.5 - 0.3 - 2.5)


def _bare_tracer():
    from types import SimpleNamespace

    from perfbench.trace import Tracer

    return Tracer(SimpleNamespace(sparkContext=None), cores=4)


def test_jvm_spans_go_under_the_innermost_span_they_started_in():
    from perfbench.trace import Span

    tracer = _bare_tracer()
    build = Span("build", 0.5, 4.0)
    exec_ = Span("exec", 4.0, 9.0)
    tracer.ops = [Span("op", 0.0, 10.0, [build, exec_])]
    batch = Span("stream.batch", 1.0, 3.0)
    in_batch = Span("catalyst.planning", 1.2, 1.8)
    past_exec = Span("catalyst.optimization", 8.5, 9.5)
    for ev in (batch, in_batch, past_exec, Span("catalyst.analysis", 2.0, 2.0),
               Span("catalyst.planning", 11.0, 12.0)):
        tracer._attach(ev)
    assert build.children == [batch] and batch.children == [in_batch]
    assert exec_.children == [past_exec] and past_exec.end == 9.0  # clipped
    assert tracer.ops[0].children == [build, exec_]  # empty and outside spans dropped


def test_accounting_flags_ops_whose_spans_miss_their_latency():
    from perfbench.trace import SELF_TIME_TOLERANCE_PCT, Span

    tracer = _bare_tracer()
    tracer.ops = [Span("op", 0.0, 1.0, [Span("build", 0.0, 0.4), Span("exec", 0.4, 1.0)]),
                  Span("op", 2.0, 2.5)]
    slack = SELF_TIME_TOLERANCE_PCT / 100.0
    bad = tracer.account([("a", 1.0 * (1 + slack / 2)), ("b", 0.5 * (1 + 2 * slack))])
    assert len(bad) == 1 and bad[0].startswith("b: spans add up to 500.000 ms of ")
    assert tracer.account([]) == []  # nothing new since the last pass
    assert tracer.layer_metrics(1)["trace.unaccounted_pct"] == pytest.approx(
        100 * (1 - 1 / (1 + 2 * slack)))


# -- seeded corpus --------------------------------------------------------------

@pytest.fixture(scope="module")
def base_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("base") / "base")
    data.write_base(d)
    return d


def _texts(path: str) -> list[str]:
    return pq.read_table(os.path.join(path, "documents.parquet")).column("text").to_pylist()


def _grams(texts: list[str], n: int) -> Counter:
    return Counter(t[i:i + n] for t in texts for i in range(len(t) - n + 1))


def test_base_is_reproducible(base_dir, tmp_path):
    again = str(tmp_path / "again")
    data.write_base(again)
    for t in data.TABLES:
        a = pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
        b = pq.read_table(os.path.join(again, f"{t}.parquet"))
        assert a.equals(b), t


def test_corpus_is_frequency_isomorphic_across_seeds(base_dir, tmp_path):
    s1, s2 = data.corpus_shifts(1)[0], data.corpus_shifts(2)[0]
    assert s1 != s2 and data.corpus_shifts(1) == data.corpus_shifts(1)
    assert sorted(data.corpus_shifts(1)) == list(range(1, 26))
    t1 = _texts(data.derive_dataset(base_dir, str(tmp_path / "a"), shift=s1))
    t2 = _texts(data.derive_dataset(base_dir, str(tmp_path / "b"), shift=s2))
    assert t1 != t2
    assert [len(t) for t in t1] == [len(t) for t in t2]
    # the rotation between the two corpora maps every token and char-gram
    # of one onto the other with the same count
    for unit in ("tokens", 3, 5):
        c1 = Counter(w for t in t1 for w in t.split()) if unit == "tokens" else _grams(t1, unit)
        c2 = Counter(w for t in t2 for w in t.split()) if unit == "tokens" else _grams(t2, unit)
        mapped = Counter({data.caesar(k, (s2 - s1) % 26): v for k, v in c1.items()})
        assert mapped == c2, unit
        assert sorted(c1.values()) == sorted(c2.values())


def test_events_order_follows_seed(base_dir, tmp_path):
    def ids(label, seed):
        d = data.derive_dataset(base_dir, str(tmp_path / label), shuffle_seed=seed)
        return pq.read_table(os.path.join(d, "events.parquet")).column("event_id").to_pylist()

    a, b, c = ids("a", 5), ids("b", 5), ids("c", 6)
    assert a == b and a != c and sorted(a) == sorted(c)


# -- report draws -------------------------------------------------------------

def test_draws_are_reproducible_from_seed():
    assert draws.session(11, 60, 0.3) == draws.session(11, 60, 0.3)
    assert draws.session(11, 60, 0.3) != draws.session(12, 60, 0.3)


def test_draws_cycle_classes_and_repeat_only_within_a_class():
    s = draws.session(3, 120, 0.3)
    n = len(draws.CLASSES)
    for i, d in enumerate(s):
        c = i % n
        assert d.totals == (c == 3)
        assert (d.pivot is not None) == (c == 4)
        assert (d.segment is not None) == (c == 2)
        assert (d.table == "orders") == (c == 5)
    repeats = sum(d in s[:i] for i, d in enumerate(s))
    assert 0 < repeats < len(s) // 2


def test_sorted_draws_have_a_total_order():
    for d in draws.session(5, 120, 0.3):
        if d.limit is not None:
            assert d.sort is not None and set(d.dims) <= {x.lstrip("-") for x in d.sort}


def test_twin_sql_runs_on_the_generated_tables(base_dir):
    con = duckdb.connect()
    for t in data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(base_dir, t + '.parquet')}')")
    for d in draws.session(9, 60, 0.0):
        cols = [c[0] for c in con.execute(draws.twin_sql(d, con)).description]
        if d.pivot is None:
            assert cols == [*d.dims, *(m for m, _ in d.metrics)]
        else:
            assert cols[:len(d.dims)] == list(d.dims)
            assert all(re.fullmatch(r"\w+_\w+", c) for c in cols[len(d.dims):])


def test_totals_draws_always_have_rows_and_the_defect_probe_has_none(base_dir):
    """Totals draws carry no filter and a date range inside the events
    span, so the engine's dropped grand-total row cannot fail a workload
    op; the probe is the case the engine gets wrong, with an empty filter."""
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{os.path.join(base_dir, 'events.parquet')}')")

    def detail_rows(d):
        rows = con.execute(draws.twin_sql(d, con)).fetchall()
        return [r for r in rows if r[0] != "RESERVED_TOTAL"]

    for d in draws.session(13, 240, 0.3):
        if d.totals:
            assert d.filters is None and detail_rows(d)
    assert detail_rows(draws.TOTALS_OVER_NO_ROWS) == []


# -- timed loop -----------------------------------------------------------------

@pytest.mark.parametrize("warm", [0, 1])
def test_timed_runs_two_passes_at_least_and_checks_each_output_once(monkeypatch, warm):
    from unittest.mock import MagicMock

    import perfbench.run as run
    from perfbench.workloads import Op

    class Fake:
        check_timed = frozenset({"stream"})
        checked_in_warmup = frozenset({"row"})
        warm_passes = warm

        def pass_ops(self, i):
            return [Op(tag, "dir", MagicMock, None) for tag in ("row", "stream", f"draw{i % 2}")]

    checked = []
    runner = run.Runner(None, Fake())
    monkeypatch.setattr(runner, "check", lambda op, df=None: checked.append((op.tag, df)))
    res = runner.timed(0.0)
    assert len(res["plain"]) == 2 and len(res["lat"]) == 6
    assert runner.attempted == 3 * (2 + warm)
    # stream outputs from every pass; each other new tag once, from the
    # DataFrame its pass built; warm-up-checked tags not again
    assert [t for t, _ in checked] == ["stream"] * (2 + warm) + ["draw0", "draw1"]
    assert all(df is not None for _, df in checked)
