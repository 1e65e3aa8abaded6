from __future__ import annotations

import statistics

import pytest

from stats import canon, content_hash, median, quartiles, spread


def test_content_hash_ignores_row_order():
    rows = [(1, "a", 2.5), (2, "b", None), (3, "c", 1.0)]
    assert content_hash(rows) == content_hash(list(reversed(rows)))


def test_content_hash_respects_column_order():
    rows = [(1, 2), (3, 4)]
    assert content_hash(rows) != content_hash([(b, a) for a, b in rows])


def test_content_hash_sees_values():
    assert content_hash([(1, 2)]) != content_hash([(1, 3)])
    assert content_hash([(1, 2)]) != content_hash([(1, 2), (1, 2)])


def test_canon_floats():
    assert canon(1.0) == canon(1) == "1"
    assert canon(0.1 + 0.2) == canon(0.3)
    assert canon(float("nan")) == "<nan>"
    assert canon(None) == "<null>"
    assert canon(True) == "1"
    assert canon([1.0, None]) == "[1,<null>]"


@pytest.mark.parametrize("values", [[3.0, 1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.5], [2.0, 2.0]])
def test_quartiles_match_statistics(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartiles(values) == (q1, q2, q3)
    assert median(values) == statistics.median(values)
    assert spread(values) == pytest.approx((q3 - q1) / q2)


def test_single_value_is_its_own_quartiles():
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)
    assert spread([4.0]) == 0.0


def test_empty_input_is_refused():
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        quartiles([])


def test_parse_seeds():
    from seeds import parse_seeds

    assert parse_seeds("1-3,7") == [1, 2, 3, 7]
    assert parse_seeds("5") == [5]
