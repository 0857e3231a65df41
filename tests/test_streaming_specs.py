"""Spark-free property tests of the streaming sketch specs: folding a
frame piece by piece (with the state-store bytes round trip between
micro-batches) must agree with one whole-frame fold, and a piece with
no usable rows must report no contribution."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tdigest_spark.kernel.countmin import CountMin
from tdigest_spark.kernel.hll import HLL
from tdigest_spark.kernel.tdigest import TDigest
from tdigest_spark.streaming import digest_stream as ds

# name -> (spec, input shape)
SPECS = {
    "tdigest": (lambda: ds._tdigest_spec(50), "value"),
    "kll": (lambda: ds._kll_spec(16), "value"),
    "hll": (lambda: ds._hll_spec(8), "hash"),
    "countmin": (lambda: ds._countmin_spec(64, 3), "hash"),
    "topk": (lambda: ds._topk_spec(4), "item"),
}

_CELL = {
    "value": st.one_of(
        st.floats(-1e6, 1e6), st.just(float("nan")), st.none()
    ),
    "hash": st.integers(-(1 << 63), (1 << 63) - 1),
    "item": st.one_of(st.sampled_from(["a", "b", "c", "d", "e", "f"]), st.none()),
}

_SETTINGS = settings(
    max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _column(shape, cells) -> pd.Series:
    """The pandas column the stateful stage hands a fold for ``cells``
    (Arrow → pandas: nullable doubles arrive as float64 with NaN)."""
    if shape == "value":
        return pd.Series(cells, dtype="float64")
    if shape == "hash":
        return pd.Series(cells, dtype="int64")
    return pd.Series(cells, dtype="object")


def _frames(data, shape):
    """A random column split into random micro-batches (empty ones
    included) — returns (whole frame, pieces)."""
    cells = data.draw(st.lists(_CELL[shape], max_size=120))
    cuts = sorted(data.draw(st.lists(st.integers(0, len(cells)), max_size=6)))
    bounds = [0, *cuts, len(cells)]
    pdf = pd.DataFrame({"c": _column(shape, cells)})
    return pdf, [pdf.iloc[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]


def _valid(piece: pd.DataFrame) -> pd.Series:
    return piece["c"].notna()


def _packed_piece(shape, piece):
    """One prereduce staging row for ``piece``: values verbatim, hashes
    and items as (distinct, counts) pairs; None when nothing is left."""
    kept = piece["c"][_valid(piece)]
    if shape == "value":
        return {"c": kept.to_numpy() if len(kept) else None}
    vc = kept.value_counts()
    if not len(vc):
        return {"c": None, "c_counts": None}
    return {"c": vc.index.to_numpy(), "c_counts": vc.to_numpy()}


def _check_against_whole(name, shape, spec, s, pdf):
    whole = spec.new()
    assert spec.fold_rows(whole, pdf, "c") == bool(_valid(pdf).any())
    if shape == "hash":
        kernel = HLL(8) if name == "hll" else CountMin(64, 3)
        kernel.add_hashes(pdf["c"].to_numpy(dtype=np.int64))
        assert s.to_bytes() == whole.to_bytes() == kernel.to_bytes()
    else:
        assert spec.stat_of(s) == spec.stat_of(whole) == int(_valid(pdf).sum())


@pytest.mark.parametrize("name", SPECS)
@_SETTINGS
@given(data=st.data())
def test_spec_row_fold_split_matches_whole(name, data):
    make, shape = SPECS[name]
    spec = make()
    pdf, pieces = _frames(data, shape)
    s = spec.new()
    for piece in pieces:
        assert spec.fold_rows(s, piece, "c") == bool(_valid(piece).any())
        s = spec.load(s.to_bytes())  # the state store between batches
    _check_against_whole(name, shape, spec, s, pdf)


@pytest.mark.parametrize("name", SPECS)
@_SETTINGS
@given(data=st.data())
def test_spec_packed_fold_split_matches_whole(name, data):
    make, shape = SPECS[name]
    spec = make()
    pdf, pieces = _frames(data, shape)
    s = spec.new()
    for piece in pieces:
        # each micro-batch stages one row per piece plus an empty row
        staged = pd.DataFrame(
            [_packed_piece(shape, piece), _packed_piece(shape, piece.iloc[:0])]
        )
        assert spec.fold_packed(s, staged, "c") == bool(_valid(piece).any())
        s = spec.load(s.to_bytes())
    _check_against_whole(name, shape, spec, s, pdf)


@_SETTINGS
@given(data=st.data())
def test_tdigest_partials_fold_split_matches_whole(data):
    """The combine_partials shape: one partial digest per piece, NULL
    for a piece with no usable values (what the partial phase ships)."""
    spec = ds._tdigest_spec(50)
    pdf, pieces = _frames(data, "value")
    s = spec.new()
    for piece in pieces:
        d = TDigest(50)
        d.add_values(piece["c"].to_numpy())
        blob = d.to_bytes() if d.count else None
        staged = pd.DataFrame({"c": [blob]})
        assert spec.fold_partials(s, staged, "c") == (blob is not None)
        s = spec.load(s.to_bytes())
    _check_against_whole("tdigest", "value", spec, s, pdf)


def test_hash_guard_rejects_float_promoted_hashes():
    """A NULL in an int64 hash column arrives float64-promoted: the
    row fold must refuse it rather than fold rounded hashes."""
    for name in ("hll", "countmin"):
        spec = SPECS[name][0]()
        col = pd.DataFrame({"c": pd.Series([1.0, np.nan])})
        with pytest.raises(ValueError, match="non-nullable int64 hash"):
            spec.fold_rows(spec.new(), col, "c")
