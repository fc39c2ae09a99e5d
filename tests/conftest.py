"""Shared fixtures: one SparkSession per test session, DuckDB oracle."""

from __future__ import annotations

import math

import duckdb
import pytest

from sparkstreamingtohdfsofsensorsdata_spark import registry
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session
from sparkstreamingtohdfsofsensorsdata_spark.tables import TABLES, table_path

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="tests", shuffle_partitions=4)
    yield spark
    spark.stop()


def make_duck_views(sf_dir: str, tables=TABLES):
    """DuckDB connection with the given tables registered as views —
    THE one registration convention for every oracle fixture (the six
    hand-rolled copies drifted on the dir-vs-file glob — review r6).
    Handles both layouts: a bare parquet file (the driver fixtures) and
    a Spark-written directory (test corpora), which DuckDB needs the
    /*.parquet glob for."""
    import os

    con = duckdb.connect()
    for name in tables:
        path = table_path(sf_dir, name)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with fixture tables registered as views,
    mirroring the driver's oracle setup."""
    con = make_duck_views(SF_DIR)
    yield con
    con.close()


def _normalize(value):
    """Make a cell comparable across Spark/DuckDB result representations."""
    import datetime
    import decimal

    if isinstance(value, decimal.Decimal):
        return float(value)
    if isinstance(value, float):
        # round(9) absorbs sub-nanoscale representation noise only —
        # every query rounds its float outputs (<= 6 dp) on BOTH sides,
        # so this is a no-op for real columns; + 0.0 canonicalizes -0.0
        # (the driver's exact value-hash would distinguish it).
        return round(value, 9) + 0.0
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            # canonicalize aware instants to UTC wall time — stripping a
            # non-UTC offset would compare host-local wall times instead
            value = value.astimezone(datetime.timezone.utc)
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, datetime.date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    return value


def _coarse(value):
    """Float cells quantized for SORTING only (4 dp): both engines'
    tolerated flips (<= one last-rounded-digit step, <= 1e-5 absolute
    near zero) land on the same coarse key, so a flip in a sort-leading
    float column cannot reorder the two engines' canonical rows
    differently and cross-pair unrelated rows in the positional
    compare (review r6 — sorting by EXACT repr was internally
    inconsistent with the tolerant cell compare). Comparison still uses
    the exact values; only the sort key is coarsened."""
    if isinstance(value, float):
        return round(value, 4)
    if isinstance(value, tuple):
        return tuple(_coarse(v) for v in value)
    return value


def rows_key(columns, rows):
    """Order-insensitive, column-name-sorted canonical form of a result.

    Rows sort by the coarse key first (float-flip-stable), exact repr
    as the deterministic tiebreak among coarse-equal rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append(tuple(_normalize(row[i]) for i in order))
    out.sort(key=lambda r: (repr(_coarse(r)), repr(r)))
    return sorted(columns), out


def _floats_boundary_equal(lval: float, rval: float) -> bool:
    """The two ways a correctly-rounded float column can still differ
    across engines, and ONLY those:

    - few-ulp adjacency (<= 4 ulps): at magnitudes where the rounding
      grid approaches float64 resolution, the engines' round()
      implementations place "the same" decimal on slightly different
      doubles (measured at sf0.1: Spark's 2 dp round of a 2.8e9 sum
      lands 2-3 ulps below DuckDB's nearest-double — a ~1e-15 relative
      representation artifact, not a value difference);
    - a single step in the last rounded digit (10^-k, k = 0..6): a
      value landing within an ulp of a .xx5 boundary flips differently
      under Spark's shortest-decimal HALF_UP vs DuckDB's raw-binary
      round (the percent_rank class, SCALE.md).

    Anything larger is a REAL divergence and fails. This replaces the
    earlier rel=1e-6 comparison, which was scale-RELATIVE — at
    1e6-magnitude sums it silently tolerated a full 0.01 rounding-step
    error, hiding exactly the class it should catch."""
    if lval == rval:
        # Exact equality — including equal infinities, where the diff
        # below would be NaN and spuriously fail (ADVICE r4).
        return True
    if math.isnan(lval) and math.isnan(rval):
        return True
    if math.isinf(lval) or math.isinf(rval):
        # One-sided (or opposite-sign) infinity is never a rounding
        # artifact: ulp(inf) is inf, so the ulp branch below would read
        # `inf <= inf -> True` and silently mask an engine overflowing
        # to inf against a finite oracle value (ADVICE r5). Equal
        # infinities already returned via the == short-circuit.
        return False
    diff = abs(lval - rval)
    ulp = max(math.ulp(lval), math.ulp(rval))
    if diff <= 4 * ulp:
        return True
    # Step match up to subtraction noise: |a - b| for values near 43.18
    # deviates from an exact 1e-6 step by a few ulps of the VALUES, so
    # the margin must scale with them, not with the step. A step is
    # only plausible as "the last rounded digit" when it is TINY
    # relative to the value: the observed flip classes are 6-dp rounds
    # (percent_rank, window averages — step 1e-6 at 1..1e2 magnitude)
    # and 2-dp sums at >= 1e6 magnitude, both <= 1e-7 of the value. The
    # earlier 1e-4 bound accepted 1234.5 vs 1234.6 — TEN 2-dp rounding
    # steps, a real divergence — because the comparator cannot know a
    # column's rounding precision (review r6); 1e-7 keeps every
    # documented class while rejecting multi-step drift at any
    # magnitude. Near zero the relative guard alone would reject the
    # genuine flip of a 5/6-dp column straddling a boundary
    # (round(cosine, 6) giving 0.0 vs 1e-6 — ADVICE r5), so acceptance
    # is floored at the finest steps the engine emits (<= 1e-5): those
    # are always plausible last-digit flips, while coarser steps
    # (1e-4 .. 1) require the full >= 7-significant-digit magnitude.
    scale = max(abs(lval), abs(rval))
    return any(
        abs(diff - 10.0**-k) <= 8 * ulp
        and 10.0**-k <= max(scale * 1e-7, 1e-5)
        for k in range(7)
    )


def _cell_close(lval, rval) -> bool:
    if isinstance(lval, float) and isinstance(rval, float):
        return _floats_boundary_equal(lval, rval)
    if isinstance(lval, tuple) and isinstance(rval, tuple):
        # collected arrays carry the same float classes element-wise —
        # exact == here hard-failed the documented-tolerated scalar
        # flips whenever they sat inside an ArrayType column (review r6)
        return len(lval) == len(rval) and all(
            _cell_close(a, b) for a, b in zip(lval, rval)
        )
    return lval == rval


def _row_close(lrow, rrow) -> bool:
    return len(lrow) == len(rrow) and all(
        _cell_close(lval, rval) for lval, rval in zip(lrow, rrow)
    )


def assert_cells_close(left, right):
    """Cell equality with the driver's exactness, modulo the two
    documented float boundary classes (_floats_boundary_equal) —
    applied recursively inside collected arrays.

    Pairing is positional first (both sides sort by the coarse key, so
    tolerated flips normally stay aligned), but a flip CROSSING a
    4-dp coarse-quantization boundary can still reorder one side only
    (ADVICE r6): the residual mismatches then get a tolerant multiset
    re-pair — every unmatched left row must greedily find a distinct
    cell-close unmatched right row. Real divergences still fail (no
    tolerant pair exists); only locally-permuted tolerated flips are
    rescued, and the re-pair is O(k^2) in the mismatch count, not the
    row count."""
    assert len(left) == len(right)
    mismatched: list[int] = [
        i for i, (lrow, rrow) in enumerate(zip(left, right))
        if not _row_close(lrow, rrow)
    ]
    if not mismatched:
        return
    remaining_right = [right[i] for i in mismatched]
    for i in mismatched:
        match = next(
            (j for j, rrow in enumerate(remaining_right)
             if _row_close(left[i], rrow)),
            None,
        )
        assert match is not None, (left[i], right[i])
        remaining_right.pop(match)


def _exact_token(value):
    """Hash-grade canonical token for a cell: distinguishes everything
    the driver's exact value-hash distinguishes and the tolerant
    comparator (:func:`_normalize`) canonicalizes away — ``-0.0`` vs
    ``0.0``, Decimal vs float, int vs bool. Floats render via repr
    (shortest round-trip decimal), so two bit-identical doubles — and
    only those — produce the same token; both r9 driver failures were
    cells this token separates and ``_normalize`` merged."""
    import datetime
    import decimal

    if isinstance(value, bool):
        # before float/int: a hash renders true/1 differently
        return f"bool:{value}"
    if isinstance(value, float):
        return repr(value)  # '-0.0' != '0.0'; 'nan' == 'nan'
    if isinstance(value, decimal.Decimal):
        return f"Decimal:{value}"  # str keeps scale: 1.50 != 1.5
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc)
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, datetime.date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_exact_token(v) for v in value)
    return value


def _scan_cell_risks(value, out: dict) -> None:
    """Count representation-fragile cells: signed zero, NaN, Decimal.
    These are flagged even when both engines currently AGREE — each is
    a class an exact value-hash can diverge on later (engine version
    drift on decimal coercion, NaN rendering, zero sign propagation)."""
    import decimal
    import math as _math

    if isinstance(value, float):
        if value == 0.0 and _math.copysign(1.0, value) < 0:
            out["neg_zero"] += 1
        elif _math.isnan(value):
            out["nan"] += 1
    elif isinstance(value, decimal.Decimal):
        out["decimal"] += 1
    elif isinstance(value, (list, tuple)):
        for v in value:
            _scan_cell_risks(v, out)


def run_parity_exact(spark, duck, name: str, sf_dir: str = SF_DIR):
    """Zero-tolerance, driver-hash-grade compare: NO float tolerance,
    NO -0.0/Decimal/bool canonicalization — the exact value-token
    multiset must match.

    This is strictly harsher than what the driver enforces, and it is
    the gate that catches what :func:`run_parity` is designed to
    forgive: the r9 window failed on a ``-0.0`` and a Decimal
    rendering, both green under the tolerant compare for three rounds.

    Returns ``(n_rows, risks)`` where ``risks`` counts signed-zero /
    NaN / Decimal cells per side — flagged even when both sides agree.

    The oracle side is fetched THROUGH ARROW, not ``fetchall()``
    (VERDICT r14 item 1): DuckDB's Python client launders HUGEINT to
    plain ``int``, so an uncast ``sum()`` over integers — HUGEINT,
    decimal128(38,0) on the wire — was indistinguishable from BIGINT in
    four local sweeps while the driver's typed hash failed it
    (q_sql_pivot, r14). Arrow preserves the wire type: HUGEINT/DECIMAL
    cells arrive as ``decimal.Decimal``, which ``_exact_token`` already
    separates from int, so the sweep now fails exactly where the driver
    would. Any decimal column in the oracle's ARROW SCHEMA is also
    counted in ``risks['oracle']['decimal_cols']`` even when the
    Spark side happens to agree.
    """
    spec = registry.load_all()[name]
    assert spec.oracle is not None, f"{name} has no oracle (rows-only op)"
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    import pyarrow as pa

    atbl = duck.execute(spec.oracle).fetch_arrow_table()
    dcols = list(atbl.column_names)
    decimal_cols = [
        f"{fld.name}:{fld.type}"
        for fld in atbl.schema
        if pa.types.is_decimal(fld.type)
    ]
    if atbl.num_rows:
        drows = list(zip(*(col.to_pylist() for col in atbl.columns)))
    else:
        drows = []

    risks = {}
    for side, rows in (("spark", srows), ("oracle", drows)):
        counts = {"neg_zero": 0, "nan": 0, "decimal": 0}
        for row in rows:
            for v in row:
                _scan_cell_risks(v, counts)
        risks[side] = counts
    risks["oracle"]["decimal_cols"] = decimal_cols

    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch {sorted(scols)} vs {sorted(dcols)}"
    )
    s_order = sorted(range(len(scols)), key=lambda i: scols[i])
    d_order = sorted(range(len(dcols)), key=lambda i: dcols[i])
    s_canon = sorted(
        (tuple(_exact_token(row[i]) for i in s_order) for row in srows), key=repr
    )
    d_canon = sorted(
        (tuple(_exact_token(row[i]) for i in d_order) for row in drows), key=repr
    )
    assert len(s_canon) == len(d_canon), (
        f"{name}: row count {len(s_canon)} vs oracle {len(d_canon)}"
    )
    for i, (srow, drow) in enumerate(zip(s_canon, d_canon)):
        assert srow == drow, (
            f"{name}: exact-token mismatch at canonical row {i}:\n"
            f"  spark  {srow}\n  oracle {drow}"
        )
    return len(s_canon), risks


def run_parity(spark, duck, name: str, sf_dir: str = SF_DIR):
    """Mirror the driver's t2 check: Spark result vs DuckDB oracle —
    row count, sorted column names, and (tolerant) value comparison."""
    spec = registry.load_all()[name]
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)

    assert spec.oracle is not None, f"{name} has no oracle (rows-only op)"
    res = duck.execute(spec.oracle)
    drows = [tuple(r) for r in res.fetchall()]
    dcols = [d[0] for d in res.description]

    s_cols, s_canon = rows_key(scols, srows)
    d_cols, d_canon = rows_key(dcols, drows)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_canon) == len(d_canon), (
        f"{name}: row count {len(s_canon)} vs oracle {len(d_canon)}"
    )
    assert_cells_close(s_canon, d_canon)
    return len(s_canon)
