"""The op_s.tail percentile rule and the quantile it reads."""

import numpy as np
import pytest

import stats


@pytest.mark.parametrize("n, p", [(20, 50), (40, 75), (100, 90), (1000, 99), (25, 60), (11, 9), (10, 0), (1, 0)])
def test_tail_percentile_examples(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_leaving_ten_beyond():
    for n in range(1, 3000):
        p = stats.tail_percentile(n)
        beyond = n * (1 - p / 100)
        assert p == 0 or beyond >= 10 - 1e-9, (n, p)
        assert n * (1 - (p + 1) / 100) < 10, (n, p)


def test_quantile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.exponential(size=37))
    for p in (0, 9, 25, 50, 73, 90, 100):
        assert stats.quantile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_tail_and_geomean():
    xs = [float(i) for i in range(1, 101)]
    value, p = stats.tail(xs)
    assert p == 90 and value == pytest.approx(np.percentile(xs, 90))
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_end_to_end_uses_each_ops_median():
    """The gated figures come from per-op medians over the run: one slow
    sample of an op moves none of them, and a failed op's time is left
    out while the op has good samples."""
    from run import end_to_end

    def op(label, s, ok=True, rows=100):
        return {"label": label, "s": s, "ok": ok, "rows": rows, "steal_s": 0.0}

    region = {
        "pass_labels": ["a", "b"],
        "passes": [3.0, 3.0, 9.0],
        "ops": [op("a", 1.0), op("b", 2.0), op("a", 1.0), op("b", 2.0),
                op("a", 7.0), op("b", 2.0), op("b", 50.0, ok=False)],
    }
    e2e, info = end_to_end({"setup_s": 5.0}, region)
    assert e2e["pass_s"] == (3.0, "s")
    assert e2e["op_s.geomean"][0] == pytest.approx(2.0 ** 0.5)
    assert e2e["rows_per_s"][0] == pytest.approx(200 / 3.0)
    assert e2e["setup_s"] == (5.0, "s")
    assert info["samples"] == 6 and info["op_medians_s"] == {"a": 1.0, "b": 2.0}
