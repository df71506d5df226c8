"""Predicate-mask parity against the elementwise reference.

The reference below is the original mask builder: it evaluates the op
against every distinct value of the sorted dictionary, then ``bincount``s
that boolean mask down to model bins. ``ColumnDictionary.valid_bins_mask``
and ``ModelBinning.predicate_mask`` must equal it byte for byte (same dtype,
same ``tobytes()``) for every dictionary dtype, NULL bin, binning and
literal below; where the reference raises, they must raise ``TypeError``.
numpy only, no Spark session.
"""

import datetime
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from naru_spark.encoding import ColumnDictionary
from naru_spark.model.binning import ModelBinning
from naru_spark.predicates import NUMPY_OPS

OPS = ["=", "<", "<=", ">", ">="]
N_VALUES = 40


def ref_valid_bins_mask(d: ColumnDictionary, op: str, val) -> np.ndarray:
    inner = NUMPY_OPS[op](d.values, val)
    if d.has_null:
        return np.concatenate([[False], inner]).astype(bool)
    return inner.astype(bool)


def ref_fractional_mask(b: ModelBinning, raw_mask: np.ndarray) -> np.ndarray:
    raw_mask = np.asarray(raw_mask, dtype=np.float64)
    hits = np.bincount(b.raw_to_model, weights=raw_mask, minlength=b.model_size)
    return hits / b.bin_counts


def _domains() -> dict[str, np.ndarray]:
    rng = np.random.RandomState(0)
    ints = np.sort(rng.choice(np.arange(-100, 101), N_VALUES, replace=False))
    floats = np.sort(rng.choice(np.arange(-60, 60), N_VALUES, replace=False) * 0.5)
    letters = np.array(list("abcxyz"))
    strs = sorted({"".join(rng.choice(letters, rng.randint(1, 4))) for _ in range(200)})[:N_VALUES]
    days = np.sort(rng.choice(np.arange(0, 400), N_VALUES, replace=False))
    ts = np.datetime64("2020-01-01", "us") + days.astype("timedelta64[D]")
    # every other timestamp is off midnight by some microseconds
    ts[1::2] += rng.randint(1, 10**6, len(ts[1::2])).astype("timedelta64[us]")
    return {
        "int64": ints.astype(np.int64),
        "int32": ints.astype(np.int32),
        "float64": floats.astype(np.float64),
        "str": np.array(strs, dtype=object),
        "ts": np.sort(ts),
    }


DOMAINS = _domains()

# literals that mean NULL or are of a type foreign to some column
COMMON_LITERALS = [
    None, float("nan"), np.nan, np.datetime64("NaT"), pd.NaT,
    float("inf"), -float("inf"),
    0, 3, -7, 2.5, -0.25, 1000, np.int64(4), np.float32(1.5), Decimal("2.5"),
    "5", "", "b", "zzzz",
    np.datetime64("2020-03-01T00:00:00.000000500", "ns"),
    datetime.datetime(2020, 3, 1), pd.Timestamp("2020-03-01"),
    pd.Timestamp("2020-03-01 00:00:00.000000500"),
    datetime.date(2020, 3, 1), pd.Timestamp("2020-03-01", tz="UTC"),
]


def _literals(kind: str, values: np.ndarray) -> list:
    """Every domain value, values between neighbours and beyond both ends,
    in the column's own and in neighbouring literal types."""
    lits = list(values) + list(values.tolist())
    lo, hi = values[:-1], values[1:]
    if kind in ("int64", "int32", "float64"):
        lits += list((lo + hi) / 2) + [values[0] - 1, values[-1] + 1]
        lits += [float(v) for v in values[::5]] + [int(v) for v in values[::5]]
    elif kind == "str":
        lits += [v + "m" for v in values] + ["", values[-1] + "~", 5]
    else:
        lits += list(lo + (hi - lo) // 2)
        lits += [values[0] - np.timedelta64(1, "D"), values[-1] + np.timedelta64(1, "D")]
        for v in values[::3]:
            ns = v.astype("datetime64[ns]")
            lits += [ns, ns + np.timedelta64(500, "ns"), ns - np.timedelta64(1, "ns")]
            lits += [pd.Timestamp(ns), pd.Timestamp(ns) + pd.Timedelta(500, "ns")]
            lits += [pd.Timestamp(ns).date(), pd.Timestamp(ns, tz="UTC")]
    return lits + COMMON_LITERALS


def _cases():
    for kind, values in DOMAINS.items():
        for has_null in (False, True):
            yield pytest.param(kind, has_null, id=f"{kind}-{'null' if has_null else 'nonull'}")


@pytest.mark.parametrize("kind,has_null", list(_cases()))
def test_masks_match_elementwise_reference(kind, has_null):
    values = DOMAINS[kind]
    d = ColumnDictionary("c", values, has_null=has_null)
    raw_size = d.distribution_size
    binnings = [ModelBinning(d, max_domain) for max_domain in (1024, 16, 5)]
    assert binnings[0].model_size == raw_size and binnings[1].model_size < raw_size
    checked = raised = 0
    for val in _literals(kind, values):
        for op in OPS:
            try:
                want = ref_valid_bins_mask(d, op, val)
            except TypeError:
                with pytest.raises(TypeError):
                    d.valid_bins_mask(op, val)
                for b in binnings:
                    with pytest.raises(TypeError):
                        b.predicate_mask(op, val)
                raised += 1
                continue
            got = d.valid_bins_mask(op, val)
            assert got.dtype == want.dtype and got.tobytes() == want.tobytes(), (op, val)
            for b in binnings:
                want_m = ref_fractional_mask(b, want)
                got_m = b.predicate_mask(op, val)
                assert got_m.dtype == want_m.dtype, (op, val, b.model_size)
                assert got_m.tobytes() == want_m.tobytes(), (op, val, b.model_size)
            checked += 1
    assert checked > 100 and raised > 0
