"""The comparison rules the checks rest on, and the generator's
determinism."""

from datetime import date

import checks
import lakegen


def test_rounding_boundary_flip_is_accepted():
    assert checks.values_match(12.35, 12.34)  # one unit of the 2nd decimal
    assert checks.values_match(1234.0, 1235.0)  # one unit of ROUND(x, 0)
    assert checks.values_match(0.1 + 0.2, 0.3)  # summation order


def test_larger_differences_are_rejected():
    assert not checks.values_match(12.35, 12.33)
    assert not checks.values_match(1234.0, 1236.0)
    assert not checks.values_match(100.0, 110.0)
    assert not checks.values_match(None, 0.0)
    assert not checks.values_match("BUS", "METRO")
    assert not checks.values_match(date(2025, 4, 21), date(2025, 4, 22))


def test_match_rows_rejects_each_corruption():
    good = [{"k": "a", "n": 1, "v": 1.5}, {"k": "b", "n": 2, "v": 2.25}]
    assert checks.match_rows(list(reversed(good)), good) == []
    assert checks.match_rows([good[0], {**good[1], "v": 9.0}], good)
    assert checks.match_rows([good[0], {**good[1], "n": 3}], good)
    assert checks.match_rows(good[:1], good)
    assert checks.match_rows(good + good[:1], good)
    assert checks.match_rows([good[0], good[0]], good)


def test_match_top_n_allows_ties_only():
    full = [{"s": "a", "v": 5.0}, {"s": "b", "v": 3.0}, {"s": "c", "v": 3.0}, {"s": "d", "v": 1.0}]
    assert checks.match_top_n([full[0], full[2]], full, "v", 2) == []  # tie at the cut
    assert checks.match_top_n([full[0], full[1]], full, "v", 2) == []
    assert checks.match_top_n([full[0], full[3]], full, "v", 2)  # wrong key
    assert checks.match_top_n([full[0], {"s": "z", "v": 3.0}], full, "v", 2)  # invented row
    assert checks.match_top_n(full[:1], full, "v", 2)  # short


def test_generator_is_deterministic_per_seed(tmp_path):
    shape = dict(n_daily=2, viajes_rows=300, etapas_rows=600, subidas_rows=200)
    a = lakegen.generate(tmp_path / "a", 7, **shape)
    b = lakegen.generate(tmp_path / "b", 7, **shape)
    c = lakegen.generate(tmp_path / "c", 8, **shape)
    assert a.digest() == b.digest()
    assert a.digest() != c.digest()
    assert [x.cut for x in a.cuts] == ["2025-04-21", "2025-04-22", lakegen.ETAPAS_CUT, lakegen.SUBIDAS_CUT]
    assert a.raw_rows == 2 * 300 + 600 + 200


def test_generator_plants_the_reference_rates(tmp_path):
    b = lakegen.generate(tmp_path / "a", 1, n_daily=1, viajes_rows=5000, etapas_rows=15000, subidas_rows=100)
    planted = {x.dataset: x.expected_quarantine for x in b.cuts}
    assert planted == {
        "viajes": {"NEG_DISTANCE": 21},
        "etapas": {"NEG_DISTANCE": 53, "BAD_UTM_X": 3},
        "subidas_30m": {},
    }
