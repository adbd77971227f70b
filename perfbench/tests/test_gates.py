import math

import numpy as np
import pytest

from perfbench import gates


def test_fp_limit_is_a_poisson_tail():
    assert gates.fp_limit(0) == 0
    lam = 1_000_000 * 2.0 ** -16
    k = gates.fp_limit(1_000_000)
    assert lam < k < lam + 8 * math.sqrt(lam)


@pytest.mark.parametrize("fp, ok", [(0, True), (15, True), (37, True), (38, False)])
def test_fpr_gate(fp, ok):
    assert (gates.fpr_within_bound(fp, 1_000_000) == []) is ok


def test_false_negatives_and_membership_are_rejected():
    assert gates.no_false_negatives("probe", 0) == []
    assert gates.no_false_negatives("probe", 1)
    assert gates.all_members("delta", np.array([True, True])) == []
    assert gates.all_members("delta", np.array([True, False]))
    assert gates.equals("n_keys", 10, 10) == []
    assert gates.equals("n_keys", 10, 11)


def test_hll_gate_rejects_an_estimate_beyond_three_standard_errors():
    p = 14
    se = 1.04 / math.sqrt(1 << p)
    assert gates.hll_within("d", 100_000 * (1 + 2.9 * se), 100_000, p) == []
    assert gates.hll_within("d", 100_000 * (1 + 3.1 * se), 100_000, p)
    assert gates.hll_within("d", 100_000 * 0.9, 100_000, p)


def test_cms_gate_rejects_underestimates_and_large_overestimates():
    exact = {"a": 100, "b": 5}
    assert gates.cms_within({"a": 100, "b": 6}, exact, eps=0.01, total=1000) == []
    assert gates.cms_within({"a": 99, "b": 5}, exact, eps=0.01, total=1000)
    assert gates.cms_within({"a": 111, "b": 5}, exact, eps=0.01, total=1000)


def test_kll_gate_uses_the_true_rank_interval():
    # the returned value's true ranks span [0.45, 0.55]: any q in it is exact
    assert gates.kll_rank_error(0.5, 0.45, 0.55) == 0
    assert gates.kll_rank_error(0.6, 0.45, 0.55) == pytest.approx(0.05)
    assert gates.kll_within({0.5: 0.0, 0.9: 0.01}) == []
    assert gates.kll_within({0.5: 0.0, 0.9: 0.05})
