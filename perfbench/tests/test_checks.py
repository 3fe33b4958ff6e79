"""Each benchmark check must be able to fail: feed it a wrong result and
see it rejected. No Spark session is started here.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy

import pytest

from perfbench import checks, datagen, insitu
from perfbench.spans import Span, self_times

SEED = 5
SMALL = insitu.Shape(
    ranks=(2, 2), chunk=(4, 4), arrays=("a", "b"), window=3, k=2,
    reduce_every=3, warmup_rounds=1,
)


def _stream(shape: insitu.Shape, steps: int) -> insitu.Stream:
    """A Stream whose record is what a correct engine would have produced
    for ``steps`` timesteps (built from the generator, no engine)."""
    st = object.__new__(insitu.Stream)
    st.shape, st.seed = shape, SEED
    rec = insitu.Record()
    for t in range(steps):
        gs = [insitu.field_at(shape, SEED, k, t) for k in range(len(shape.arrays))]
        n = min(shape.window, t + 1)
        rec.dispatched.append(t)
        rec.windows[t] = {a: list(range(t - n + 1, t + 1)) for a in shape.arrays}
        rec.published[t] = sum(float(g.sum()) for g in gs)
        rec.payload_bytes += sum(g.nbytes for g in gs)
        rec.assembled_bytes += sum(g.nbytes for g in gs)
        if t % shape.reduce_every == 0:
            rec.means[t] = float(gs[0].mean())
            rec.stds[t] = float(gs[0].std())
        if t >= shape.lag:
            rec.reads.append((t - shape.lag, rec.published[t - shape.lag]))
        rec.last_t = t
    st.rec = rec
    return st


def test_correct_record_passes():
    assert _stream(SMALL, 9).check() == []


def test_wrong_sum_rejected():
    st = _stream(SMALL, 9)
    st.rec.published[4] += 1e-6
    assert any("feedback value at t=4" in e for e in st.check())


def test_wrong_distributed_mean_and_std_rejected():
    st = _stream(SMALL, 9)
    st.rec.means[3] += 1e-6
    st.rec.stds[6] *= 1.0 + 1e-6
    errs = st.check()
    assert any("mean at t=3" in e for e in errs)
    assert any("std at t=6" in e for e in errs)


def test_missing_reduction_rejected():
    st = _stream(SMALL, 9)
    del st.rec.means[6]
    assert any("mean: no value for t=6" in e for e in st.check())


@pytest.mark.parametrize(
    "window", [[3, 4, 5], [5, 4, 6], [4, 6], [4, 5, 6, 7], [5, 6]]
)
def test_shifted_reordered_or_resized_window_rejected(window):
    st = _stream(SMALL, 9)
    st.rec.windows[6]["b"] = window
    assert any("window of 'b' at t=6" in e for e in st.check())


def test_first_windows_are_short():
    assert checks.check_windows({0: {"a": [0]}, 1: {"a": [0, 1]}}, 3) == []
    assert checks.check_windows({1: {"a": [1]}}, 3) != []


def test_stale_or_missing_feedback_read_rejected():
    st = _stream(SMALL, 9)
    t, _ = st.rec.reads[2]
    st.rec.reads[2] = (t, st.rec.published[t - 1])  # the previous step's value
    assert any(f"feedback read of t={t}" in e for e in st.check())
    st = _stream(SMALL, 9)
    st.rec.reads[0] = (st.rec.reads[0][0], None)
    assert any("feedback read" in e for e in st.check())


@pytest.mark.parametrize(
    "dispatched",
    [[0, 1, 2, 2, 3, 4], [0, 1, 3, 4], [0, 2, 1, 3, 4], [0, 1, 2, 3, 4, 5]],
)
def test_dispatch_not_once_in_order_rejected(dispatched):
    assert checks.check_dispatch_order(dispatched, range(5)) != []


def test_missing_dispatch_rejected_through_stream():
    st = _stream(SMALL, 9)
    st.rec.dispatched.remove(7)
    assert any("never dispatched" in e for e in st.check())


def test_byte_mismatch_rejected():
    st = _stream(SMALL, 5)
    st.rec.assembled_bytes -= 8
    assert any("bytes" in e for e in st.check())


@pytest.fixture(scope="module")
def oracle_result(tmp_path_factory):
    """A panel query's DuckDB oracle over freshly generated tables."""
    import duckdb

    from deisa_ray_spark.registry import load_all

    paths = datagen.write(SEED, str(tmp_path_factory.mktemp("tables")))
    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    df = con.execute(load_all()["q01_pricing_summary"].oracle).fetchdf()
    con.close()
    assert len(df) > 1
    return df


def test_query_rows_in_any_order_pass(oracle_result):
    shuffled = oracle_result.sample(frac=1.0, random_state=0)
    assert checks.check_query("q", shuffled[sorted(shuffled.columns)], oracle_result) == []


def test_changed_query_row_rejected(oracle_result):
    got = copy.deepcopy(oracle_result)
    got.loc[1, "sum_qty"] += 1.0
    assert checks.check_query("q", got, oracle_result) != []


def test_dropped_or_retyped_query_result_rejected(oracle_result):
    assert checks.check_query("q", oracle_result.iloc[1:], oracle_result) != []
    retyped = oracle_result.astype({"count_order": "float64"})
    assert checks.check_query("q", retyped, oracle_result) != []


def test_generated_tables_depend_only_on_seed():
    a, b, c = datagen.tables(3), datagen.tables(3), datagen.tables(4)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_self_time_subtracts_children_once():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping: 5 s
    # covered) and [8, 9]; the grandchild [1, 2] does not count for root.
    spans = [
        Span(0, "root", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),
        Span(3, "c", 8.0, 9.0, 0, 1),
        Span(4, "a.child", 1.0, 2.0, 1, 1),
        Span(5, "other", 20.0, 21.0, None, 2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(1.0)
