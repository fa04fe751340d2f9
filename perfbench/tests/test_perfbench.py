"""Unit tests of the benchmark's own arithmetic and checks (no Spark).

    python -m pytest perfbench/tests -q
"""

import statistics
import types

import numpy as np
import pytest

from perfbench import checks, compare, trace
from perfbench.run import canary
from perfbench.trace import Ledger, Span, Tracer


# ------------------------------------------------------------ self time

def test_covered_merges_overlaps_and_clips():
    assert trace.covered([], 0, 10) == 0
    assert trace.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    # clipped to the parent's interval
    assert trace.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert trace.covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, 0, None, "op", 0.0, 10.0),
        Span(1, 0, 0, "construct", 1.0, 2.0),
        Span(2, 0, 0, "execute", 2.0, 6.0),
        Span(3, 0, 2, "inner", 3.0, 5.0),
        Span(4, 0, 0, "overlapping", 5.0, 7.0),
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10 - 6)    # children cover [1, 7]
    assert st[2] == pytest.approx(4 - 2)
    assert st[3] == pytest.approx(2)
    assert st[1] == pytest.approx(1) and st[4] == pytest.approx(2)


def test_tracer_records_parents_and_ops():
    t = Tracer(True)
    t.new_op()
    with t.span("a"):
        with t.span("b", k=1):
            pass
    t.new_op()
    with t.span("c"):
        pass
    a, b, c = t.spans
    assert (a.parent, b.parent, c.parent) == (None, 0, None)
    assert (a.op, b.op, c.op) == (0, 0, 1)
    assert b.attrs == {"k": 1}
    assert t.self_times()[0] == pytest.approx(a.end - a.start - (b.end - b.start))


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("a"):
        pass
    assert t.spans == []


# ------------------------------------------------------------ percentiles

def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert trace.percentile(xs, 50) == 50
    assert trace.percentile(xs, 90) == 90
    assert trace.percentile(xs, 100) == 100
    assert trace.percentile([7], 99) == 7
    with pytest.raises(ValueError):
        trace.percentile([], 50)


@pytest.mark.parametrize("n,want", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_has_ten_samples_beyond(n, want):
    assert trace.tail_percentile(n) == want
    if want is not None:
        assert trace.beyond(n, want) >= 10


def test_summarize_states_count_and_rule():
    s = trace.summarize(list(range(40)))
    assert s["n"] == 40 and s["tail_p"] == 75.0 and s["tail"] == 29
    assert trace.summarize([1.0, 2.0])["tail"] is None


# ------------------------------------------------------------ error rate

def test_ledger_counts_failed_over_attempted():
    led = Ledger()
    led.record([], "ok")
    led.record(["wrong"], "bad")
    led.record([], "ok")
    led.record(["x", "y"], "bad2")
    assert (led.attempted, led.failed) == (4, 2)
    assert led.error_rate == 0.5
    assert led.reasons[0].startswith("bad: wrong")
    assert Ledger().error_rate == 0.0


def test_wrong_answer_counts_as_failure():
    vals = np.sort(np.random.default_rng(0).lognormal(5, 1, 1000))
    exact = checks.exact_lower_quantile(vals, 0.9)
    led = Ledger()
    led.record(checks.check_alpha("ok", [exact * 1.005], vals, [0.9], 0.01))
    led.record(checks.check_alpha("bad", [exact * 1.02], vals, [0.9], 0.01))
    assert (led.attempted, led.failed) == (2, 1)


def test_canary_rejects_every_wrong_answer():
    assert canary() == []


# ------------------------------------------------------------ checks

def test_exact_lower_quantile_convention():
    v = np.arange(10.0)
    assert checks.exact_lower_quantile(v, 0.0) == 0
    assert checks.exact_lower_quantile(v, 0.5) == 4   # floor(0.5 * 9)
    assert checks.exact_lower_quantile(v, 1.0) == 9


def test_rank_error():
    v = np.arange(100.0)
    assert checks.rank_error(v, 49.0, 0.5) == 0.0
    assert checks.rank_error(v, 89.0, 0.5) == pytest.approx(0.39)


def test_sketch_cells_and_pairs():
    assert checks.check_sketch_cells({1: b"a"}, {1: b"a"}, "x") == []
    assert checks.check_sketch_cells({1: b"a"}, {1: b"a", 2: b"b"}, "x")
    assert checks.check_pairs_found({(1, 2)}, np.array([[1, 2]]), "x") == []
    assert checks.check_pairs_found(set(), np.array([[1, 2]]), "x")


def test_ingest_check_flags_a_perturbed_answer():
    from perfbench.workloads import QS, IngestPages, Reference

    rng = np.random.default_rng(1)
    n = 2000
    ref = Reference(np.zeros(n, dtype=np.int64),
                    rng.integers(0, 2, n).astype(np.int8), rng.integers(5, 3000, n))
    rows = []
    for lang in ("en", "zh"):
        vals = ref.values(lang)
        for q, e in zip(QS, ref.sketch(vals).quantile(QS)):
            rows.append({"lang": lang, "n": len(vals), "q": q, "est": e})
    kll = [{"lang": l, "percentile": [checks.exact_lower_quantile(ref.values(l), q)
                                      for q in QS]} for l in ("en", "zh")]
    hll = [{"ndv_est": 1000.0}]
    assert IngestPages.check(ref, rows, kll, hll, 1000) == []
    rows[1] = dict(rows[1], est=rows[1]["est"] * 1.001)
    assert IngestPages.check(ref, rows, kll, hll, 1000)


def test_dedup_probe_check_flags_a_missing_pair():
    from ddsketch_spark.textconf import LANGID_LANGS
    from perfbench.layers import check_dedup

    # 1 is an injected exact copy of 0, 3 a natural one of 2
    texts = {0: "a b", 1: "a b", 2: "c d e", 3: "c d e"}
    inputs = types.SimpleNamespace(exact_pairs=np.array([[0, 1], [2, 3]]),
                                   injected_exact=np.array([[0, 1]]))
    prof = [{"doc_id": d, "tokens": t.count(" ") + 1, "langid": LANGID_LANGS[0],
             "quality": 0.5, "fp": t, "rfp": t} for d, t in texts.items()]
    assert check_dedup(inputs, texts, set(texts), {(0, 1), (2, 3)}, prof) == []
    assert check_dedup(inputs, texts, set(texts), {(2, 3)}, prof)
    assert check_dedup(inputs, texts, set(texts), {(0, 1)}, prof)
    # a pair outside the probe's pages is not required
    assert check_dedup(inputs, texts, {0, 1}, {(0, 1)}, prof[:2]) == []
    assert check_dedup(inputs, texts, {0, 1}, {(0, 1)}, prof)


def test_stream_probe_check_flags_a_differing_window():
    import datetime

    from perfbench.inputs import BASE_TS, HOUR
    from perfbench.layers import WATERMARK_S, check_stream
    from perfbench.workloads import Reference

    rng = np.random.default_rng(3)
    n = 600
    ref = Reference(BASE_TS + np.sort(rng.integers(0, 6 * HOUR, n)),
                    rng.integers(0, 2, n).astype(np.int8), rng.integers(5, 3000, n))
    wm = int(ref.ts.max()) - WATERMARK_S
    closed = {k: v for k, v in ref.cells(HOUR).items() if k[0] + HOUR < wm}
    rows = [{"window_start": datetime.datetime.fromtimestamp(b, datetime.timezone.utc),
             "lang": lang, "sketch": sk} for (b, lang), sk in closed.items()]
    assert len(rows) >= 8
    assert check_stream(ref, rows, closed) == []
    assert check_stream(ref, rows[1:], closed)
    sk = rows[0]["sketch"]
    bad = dict(rows[0], sketch=bytes([sk[0] ^ 1]) + sk[1:])
    assert check_stream(ref, [bad] + rows[1:], closed)


# ------------------------------------------------------------ compare

def test_quartile_spread_and_worse_by():
    vals = [9.0, 10.0, 10.0, 10.0, 11.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert compare.quartile_spread(vals) == pytest.approx((q3 - q1) / 10.0)
    assert compare.worse_by(100.0, 110.0, "lower") == pytest.approx(0.1)
    assert compare.worse_by(100.0, 110.0, "higher") == pytest.approx(-0.1)
    assert compare.parse_seeds("1-3,7") == [1, 2, 3, 7]
