"""Property-based fuzz of the zone-map/scan kernels (no SparkSession —
these target the pure layers: bounds, masks, segmented codecs).

Invariants:
  * recorded bounds BRACKET every non-null value (soundness of pruning)
    and equal the exact non-null min/max (up to string truncation)
  * the kernel mask matches a brute-force evaluation of the filter
  * Arrow segmented payload bytes equal the pandas reference codec's
  * selected decode == full decode then filter, for any mask
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from kmers_spark import arrowcodecs, codecs, zonemap

SETTINGS = settings(deadline=None, max_examples=60)

texts = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                max_codepoint=0x10FFFF,
            ),
            max_size=60,
        ),
    ),
    min_size=0, max_size=200,
)

ints = st.lists(
    st.one_of(st.none(), st.integers(min_value=-(2**62), max_value=2**62)),
    min_size=0, max_size=200,
)

doubles = st.lists(
    st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    ),
    min_size=0, max_size=200,
)


@SETTINGS
@given(texts)
def test_string_bounds_bracket_and_paths_agree(vals):
    b = zonemap.bounds_arrow(pa.array(vals, pa.string()), "string")
    dense = [v for v in vals if v is not None]
    if b is None:
        # only when empty/all-null or the max is untruncatable
        assert not dense or zonemap.truncate_max(max(dense)) is None
        return
    lo, hi = b
    assert (lo, hi) == (zonemap.truncate_min(min(dense)),
                        zonemap.truncate_max(max(dense)))
    for v in dense:
        assert lo <= v <= hi


@SETTINGS
@given(ints)
def test_int_bounds_exact_and_paths_agree(vals):
    b = zonemap.bounds_arrow(pa.array(vals, pa.int64()), "int64")
    dense = [v for v in vals if v is not None]
    if dense:
        assert b == (min(dense), max(dense))
    else:
        assert b is None


@SETTINGS
@given(doubles)
def test_double_bounds_and_paths_agree(vals):
    b = zonemap.bounds_arrow(pa.array(vals, pa.float64()), "double")
    dense = [v for v in vals if v is not None]
    if dense:
        assert b == (min(dense), max(dense))
    else:
        assert b is None


@SETTINGS
@given(
    st.lists(st.one_of(st.none(), st.integers(-50, 50)), min_size=1, max_size=150),
    st.sampled_from(["=", "<", "<=", ">", ">=", "in"]),
    st.integers(-60, 60),
)
def test_masks_agree_and_match_bruteforce(vals, op, pivot):
    schema = {"x": "int64"}
    value = [pivot, pivot + 3] if op == "in" else pivot
    norm = zonemap.normalize_filters([("x", op, value)], schema)
    am = zonemap.arrow_mask(lambda c: pa.array(vals, pa.int64()), norm).to_pylist()
    import operator as _op

    fns = {"=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
    for v, got in zip(vals, am):
        want = (
            False if v is None
            else (v in value if op == "in" else fns[op](v, pivot))
        )
        assert bool(got) == want


@SETTINGS
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=" abéé中xyz", max_size=30),  # spaces -> real tokens
        ),
        min_size=1, max_size=250,
    ),
    st.randoms(use_true_random=False),
)
def test_words_seg_roundtrip_and_selected(vals, rnd):
    old = codecs.SEG_ROWS
    codecs.SEG_ROWS = 64  # force multi-segment blocks at fuzz sizes
    try:
        s = pd.Series(vals, dtype=object)
        arr = pa.array(vals, pa.string())
        pp, pm = codecs.encode_column(s, "words_seg", "string")
        ap, am = arrowcodecs.encode_column_arrow(arr, "words_seg", "string")
        assert pp == ap and pm == am
        assert list(codecs.decode_column(pp, pm)) == vals
        assert arrowcodecs.decode_column_arrow(ap, am).to_pylist() == vals
        sel = np.array([rnd.random() < 0.3 for _ in vals], dtype=bool)
        want = [v for v, k in zip(vals, sel) if k]
        assert arrowcodecs.decode_column_arrow_selected(ap, am, sel).to_pylist() == want
        assert list(codecs.decode_column_selected(pp, pm, sel)) == want
    finally:
        codecs.SEG_ROWS = old


class TestRangeAssignmentProperty:
    """Property: range_bucket_for_value (driver bisect) implements the
    same count-of-boundaries<=v rule as np.searchsorted(side='right')
    — the arithmetic the UDF path runs — for every prunable type,
    including the pinned NULL/NaN -> bucket 0 edge. Pure driver code
    (the Spark expr/UDF cross-checks live in test_cluster_by)."""

    @given(
        bnds=st.lists(st.integers(-2**62, 2**62), min_size=1, max_size=64),
        vals=st.lists(st.integers(-2**62, 2**62), min_size=1, max_size=32),
    )
    @settings(max_examples=200, deadline=None)
    def test_int64(self, bnds, vals):
        import numpy as np

        from kmers_spark.operators import partitioning as P

        b = sorted(bnds)
        arr = np.asarray(b, dtype=object)  # object: no float promotion
        for v in vals:
            got = P.range_bucket_for_value(v, b, "int64")
            assert got == int(np.searchsorted(arr, v, side="right"))

    @given(
        bnds=st.lists(
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            min_size=1, max_size=64),
        vals=st.lists(
            st.floats(allow_nan=True, allow_infinity=False, width=64),
            min_size=1, max_size=32),
    )
    @settings(max_examples=200, deadline=None)
    def test_double_with_nan_rule(self, bnds, vals):
        import math

        import numpy as np

        from kmers_spark.operators import partitioning as P

        b = sorted(bnds)
        arr = np.asarray(b, dtype=np.float64)
        for v in vals:
            got = P.range_bucket_for_value(v, b, "double")
            if math.isnan(v):
                assert got == 0  # the pinned NULL/NaN rule
            else:
                assert got == int(np.searchsorted(arr, v, side="right"))
        assert P.range_bucket_for_value(None, b, "double") == 0

    @given(
        bnds=st.lists(st.text(max_size=80), min_size=1, max_size=32),
        vals=st.lists(st.text(max_size=120), min_size=1, max_size=16),
    )
    @settings(max_examples=150, deadline=None)
    def test_string_truncation_consistent(self, bnds, vals):
        import numpy as np

        from kmers_spark.operators import partitioning as P

        # boundaries arrive pre-truncated (range_boundaries truncates)
        b = sorted(x[: P.RANGE_STR_BOUND] for x in bnds)
        arr = np.asarray(b, dtype=object)
        for v in vals:
            got = P.range_bucket_for_value(v, b, "string")
            want = int(np.searchsorted(arr, v[: P.RANGE_STR_BOUND], side="right"))
            assert got == want
