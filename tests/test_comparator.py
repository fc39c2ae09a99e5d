"""Unit pins for the parity float comparator (_floats_boundary_equal).

The comparator is the parity suite's trust anchor: it must accept
EXACTLY the two documented cross-engine rounding classes (few-ulp
adjacency, a single last-rounded-digit step) and nothing else. These
pins encode the r5 ADVICE findings so neither hole can reopen:

- infinities: inf vs any finite value (and inf vs -inf) must FAIL —
  ulp(inf) is inf, so without the explicit guard the ulp branch reads
  `inf <= inf -> True` and masks an engine overflow;
- near-zero rounded steps: a 6-dp-rounded metric straddling a rounding
  boundary (0.0 vs 1e-6) must PASS even though the magnitude guard's
  scale*1e-4 term is below the step there.
"""

from __future__ import annotations

import math

from conftest import _floats_boundary_equal as eq


# --- exactness and the NaN/inf lattice --------------------------------

def test_exact_equality_and_nan():
    assert eq(1.5, 1.5)
    assert eq(0.0, -0.0)
    assert eq(float("nan"), float("nan"))
    assert not eq(float("nan"), 0.0)
    assert not eq(0.0, float("nan"))


def test_equal_infinities_pass():
    assert eq(float("inf"), float("inf"))
    assert eq(float("-inf"), float("-inf"))


def test_one_sided_or_opposite_infinities_fail():
    # ADVICE r5 (medium): an engine overflowing to inf against a finite
    # oracle value must be a real divergence, not a masked pass.
    assert not eq(float("inf"), 1.0)
    assert not eq(1.0, float("inf"))
    assert not eq(float("inf"), 1e308)
    assert not eq(float("-inf"), -1e308)
    assert not eq(float("inf"), float("-inf"))


# --- the two tolerated classes ----------------------------------------

def test_few_ulp_adjacency_passes():
    x = 2.8e9 / 3.0
    assert eq(x, math.nextafter(math.nextafter(x, math.inf), math.inf))


def test_last_rounded_digit_step_passes_at_magnitude():
    # the percent_rank class: same decimal, HALF_UP vs binary round
    assert eq(43.181818, 43.181819)
    assert eq(0.333333, 0.333334)
    # a 2-dp sum flip at large magnitude (cent tie): 1e-8 relative
    assert eq(2.8e9, 2.8e9 + 0.01)


def test_near_zero_rounded_step_passes():
    # ADVICE r5 (low): round(cosine, 6) straddling a boundary gives
    # 0.0 vs 1e-6 — the tolerated class, despite the tiny magnitude.
    assert eq(0.0, 1e-6)
    assert eq(1e-6, 0.0)
    assert eq(0.0, 1e-5)
    assert eq(1e-6, 2e-6)


# --- real divergences stay failures -----------------------------------

def test_large_steps_near_zero_still_fail():
    # The floor only admits the finest steps (<= 1e-5); coarser steps
    # without magnitude are genuine divergences, not last-digit flips.
    assert not eq(0.0, 1.0)
    assert not eq(0.0, 0.1)
    assert not eq(0.0, 1e-4)
    assert not eq(0.5, 0.6)
    assert not eq(0.01, 0.02)


def test_non_step_diffs_fail():
    assert not eq(1.0, 1.0000005)  # half a step: not a digit flip
    assert not eq(100.0, 100.2)    # two steps
    assert not eq(1e6, 1e6 + 2.0)  # two units: beyond any digit flip


def test_multi_step_drift_at_magnitude_fails():
    # The r6 tightening (relative bound 1e-4 -> 1e-7): the comparator
    # cannot know a column's rounding precision, so a 0.1 step against
    # a 2-dp-rounded column is TEN rounding steps of real drift — it
    # must fail even though it is a clean power-of-ten difference at
    # 4-significant-digit magnitude.
    assert not eq(1234.5, 1234.6)
    assert not eq(123456.78, 123457.78)
    # a unit step needs >= 1e7 magnitude to be a plausible tie flip now
    assert not eq(1e6, 1e6 + 1.0)
    assert eq(1e8, 1e8 + 1.0)


# --- metamorphic properties (hypothesis) ------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_floats = st.floats(allow_nan=True, allow_infinity=True, width=64)


@settings(max_examples=300, deadline=None)
@given(_floats)
def test_reflexive(x):
    assert eq(x, x)


@settings(max_examples=300, deadline=None)
@given(_floats, _floats)
def test_symmetric(x, y):
    assert eq(x, y) == eq(y, x)


@settings(max_examples=300, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=True, width=64))
def test_infinity_never_equals_finite_or_opposite(x):
    inf = float("inf")
    if math.isinf(x):
        assert eq(x, inf) == (x == inf)
        assert eq(x, -inf) == (x == -inf)
    else:
        assert not eq(x, inf)
        assert not eq(x, -inf)


# --- row comparator: no column gets more than the two classes ---------

from conftest import assert_cells_close


def test_undeclared_columns_keep_strict_rules():
    # every column gets the bare comparator's flip classes only: a 2-dp
    # flip at mid magnitude is a real divergence, also inside an array.
    assert_cells_close([(43.181818,)], [(43.181819,)])
    assert_cells_close([((43.181818, 7.0),)], [((43.181819, 7.0),)])
    for left, right in (([(1234.56,)], [(1234.57,)]),
                        ([((1234.56, 7.0),)], [((1234.57, 7.0),)])):
        try:
            assert_cells_close(left, right)
        except AssertionError:
            pass
        else:
            raise AssertionError("a mid-magnitude 2-dp flip must not pass")


# --- multiset re-pair for coarse-boundary crossings (ADVICE r6) --------


def test_multiset_repair_rescues_coarse_boundary_crossing():
    # Two rows whose sort-leading floats flip across engines such that
    # the two sides' canonical sorts ORDER them differently (here the
    # flip swaps which row sorts first): positional compare cross-pairs
    # row "x" against row "y"; the multiset fallback must re-pair each
    # row with its tolerated-flip partner.
    left = [(0.0, "x"), (1e-6, "y")]
    right = [(0.0, "y"), (1e-6, "x")]
    assert_cells_close(left, right)


def test_multiset_repair_still_fails_real_divergence():
    try:
        assert_cells_close([(1.0, "x"), (2.0, "y")], [(1.0, "x"), (9.0, "y")])
    except AssertionError:
        pass
    else:
        raise AssertionError("real divergence must fail")


# --- oracle wire-type gates (VERDICT r14 item 1) -----------------------

def test_hugeint_laundering_visible_only_through_arrow():
    """Pin the r14 q_sql_pivot escape mechanism itself: DuckDB's
    Python fetch launders HUGEINT (the type of an uncast sum() over
    integers) to plain ``int``, while the Arrow fetch preserves it as
    decimal128 — which the driver's typed hash distinguishes from
    BIGINT. run_parity_exact fetches the oracle through Arrow for
    exactly this reason; this test fails if a duckdb upgrade ever
    changes either side of that asymmetry."""
    import decimal

    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    sql = "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)"
    fetched = con.execute(sql).fetchall()[0][0]
    assert fetched == 3 and isinstance(fetched, int)  # laundered
    tbl = con.execute(sql).fetch_arrow_table()
    assert pa.types.is_decimal(tbl.schema.field("s").type)  # preserved
    assert isinstance(tbl.column("s").to_pylist()[0], decimal.Decimal)
    con.close()


def test_no_decimal_columns_in_any_oracle_schema(duck):
    """Every oracle's DuckDB ARROW schema must be decimal-free: Spark
    never produces decimals in this surface (floats are rounded
    doubles, counts/sums are CAST AS BIGINT house-style), so any
    decimal column in an oracle is an uncast aggregate waiting to fail
    the driver's typed hash the way q_sql_pivot did in r14. Runs every
    oracle at sf0.001 (DuckDB only — no Spark), ~40 s."""
    import pyarrow as pa

    from sparkstreamingtohdfsofsensorsdata_spark import registry

    offenders = {}
    for name, spec in sorted(registry.load_all().items()):
        if spec.oracle is None:
            continue
        tbl = duck.execute(spec.oracle).fetch_arrow_table()
        dec = [
            f"{f.name}:{f.type}" for f in tbl.schema
            if pa.types.is_decimal(f.type)
        ]
        if dec:
            offenders[name] = dec
    assert not offenders, f"uncast-aggregate oracle columns: {offenders}"
