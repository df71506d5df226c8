"""Order-preserving dictionary encoding — the load-bearing transform.

Reference semantics (/root/reference):
- ``common.py:67-85``  (``Column.SetDistribution``): domain = exact distinct
  values sorted ascending, NULL first (bin 0).
- ``common.py:273-312`` (``Discretize``): raw value -> ordinal bin id, ``+1``
  shift when NULL occupies bin 0; output int32, non-negative.
- ``common.py:59-65``  (``ValToBin``): index into the sorted distinct array.
- ``common.py:11-24``: NULL never satisfies any predicate -> the NULL bin is
  always False in a domain mask.

Because the dictionary is sorted, each ``=``/``<``/``<=``/``>``/``>=``
predicate selects one contiguous run of bins. ``sorted_range`` is the one
"predicate -> sorted range" translation, shared by ``ColumnDictionary.bin_range``
(model masks) and the exact counter's code ranges: one ``searchsorted`` per
predicate (two for ``=``), never a scan of the values. The reference evaluates
``op(all_distinct_values, v)`` elementwise instead (``estimators.py:226-230``);
every mask built from a range equals that evaluation bit for bit.

Spark-first design (NOT MLlib StringIndexer, which orders by frequency and
breaks range predicates):

* **fit**: one ``distinct()`` job per column (shuffle bounded by domain size,
  not table size). Domains up to ``max_collect_domain`` are collected and
  sorted on the driver (numpy sort == Spark binary-UTF8 string order ==
  timestamp/number order). Larger domains keep a DataFrame-backed dictionary
  ranked with a scalable sort + per-partition-offset pass (no single-partition
  window).
* **transform**: zero-shuffle. Dictionaries are broadcast (sc.broadcast of the
  numpy arrays) and a vectorized Arrow-batched ``np.searchsorted`` maps values
  to bins per input partition. For DataFrame-backed (huge) dictionaries we
  fall back to a shuffle join per column.

At 100 TB the fit cost is one shuffle per column whose reduce side is the
domain, and transform adds no shuffle at all — the encode stage pipelines into
whatever comes next.
"""

from __future__ import annotations

import datetime
import operator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType

from naru_spark.meta import ColumnMeta, TableMeta

# Domains larger than this stay distributed (DataFrame-backed dictionary).
DEFAULT_MAX_COLLECT_DOMAIN = 4_000_000
# searchsorted side whose index ends (<, <=) or starts (>, >=) the range
# of ``col <op> val``
_SEARCH_SIDE = {"<": "left", ">=": "left", "<=": "right", ">": "right"}


def sorted_range(values: np.ndarray, op: str, val) -> tuple[int, int]:
    """Indices ``[lo, hi)`` of the sorted ``values`` satisfying ``x <op> val``
    for op in ``= < <= > >=``, in numpy's sort order: a NaN literal equals
    NaN and sorts above every other value, as in Spark. The literal must be
    comparable with ``values`` (``bin_range`` checks that)."""
    if op == "=":
        return int(values.searchsorted(val, "left")), int(values.searchsorted(val, "right"))
    i = int(values.searchsorted(val, _SEARCH_SIDE[op]))
    return (0, i) if op[0] == "<" else (i, len(values))


@dataclass
class ColumnDictionary:
    """Sorted distinct non-null values + NULL flag for one column.

    ``values`` is a sorted numpy array (object dtype for strings,
    datetime64[us] for timestamps, int64/float64 for numerics). Bin layout:
    bin 0 = NULL iff ``has_null``; value ``values[i]`` -> bin ``i + has_null``.
    """

    name: str
    values: np.ndarray
    has_null: bool

    @property
    def distribution_size(self) -> int:
        return len(self.values) + int(self.has_null)

    def val_to_bin(self, val) -> int:
        """Reference ``common.py:59-65`` (ValToBin). NULL -> 0."""
        if val is None or (isinstance(val, float) and np.isnan(val)):
            if not self.has_null:
                raise ValueError(f"column {self.name} has no NULL bin")
            return 0
        idx = int(np.searchsorted(self.values, val))
        if idx >= len(self.values) or self.values[idx] != val:
            raise ValueError(f"{val!r} not in domain of {self.name}")
        return idx + int(self.has_null)

    def bin_to_val(self, b: int):
        if self.has_null:
            if b == 0:
                return None
            b -= 1
        return self.values[b]

    def encode_array(self, arr: np.ndarray, strict: bool = True) -> np.ndarray:
        """Vectorized raw->bin (reference ``Discretize``, common.py:273-312).

        NULL/NaN -> bin 0. Unseen values -> -1 (strict=False) or error.
        """
        if len(self.values) and self.values.dtype == object:
            null_mask = pd.isnull(arr)
        else:
            null_mask = pd.isnull(arr)
        out = np.empty(len(arr), dtype=np.int32)
        nn = ~null_mask
        vals = arr[nn]
        if len(vals):
            idx = np.searchsorted(self.values, vals)
            idx_clipped = np.clip(idx, 0, max(len(self.values) - 1, 0))
            found = self.values[idx_clipped] == vals
            if strict and not found.all():
                bad = np.asarray(vals)[~found][:3]
                raise ValueError(f"values not in domain of {self.name}: {bad!r}")
            codes = np.where(found, idx_clipped + int(self.has_null), -1)
        else:
            codes = np.empty(0, dtype=np.int64)
        out[nn] = codes
        out[null_mask] = 0 if self.has_null else -1
        if strict and (out < 0).any():
            raise ValueError(f"NULL seen but no NULL bin in {self.name}")
        return out

    def decode_array(self, bins: np.ndarray) -> np.ndarray:
        """Inverse of encode_array; NULL bin -> None/NaN."""
        b = np.asarray(bins, dtype=np.int64)
        if self.has_null:
            out = np.empty(len(b), dtype=object)
            nn = b > 0
            out[nn] = self.values[b[nn] - 1]
            out[~nn] = None
            return out
        return self.values[b]

    def bin_range(self, op: str, val) -> tuple[int, int]:
        """Bins ``[lo, hi)`` satisfying ``col <op> val`` for op in
        ``= < <= > >=``: ``sorted_range`` over the sorted dictionary.

        Equals the elementwise evaluation of the op against every value
        (``estimators.py:219-236``), literal edge cases included:

        * a NULL/NaN/NaT literal matches nothing (``searchsorted`` would
          place it last and select a suffix);
        * a literal the elementwise op cannot order against the column (a
          string on a numeric column, ``None``, a ``datetime.date`` or a
          tz-aware ``Timestamp`` on a timestamp column) raises ``TypeError``,
          except under ``=``, which matches nothing. ``searchsorted``
          accepts some of these silently, so ``<`` is first tried on one
          value.

        The NULL bin is never in the range (``common.py:11-24``).
        """
        v = self.values
        shift = int(self.has_null)
        try:
            operator.lt(v[:1], val)
        except TypeError:
            if op == "=":
                return shift, shift
            raise
        if pd.isnull(val):
            return shift, shift
        if v.dtype.kind == "M" and isinstance(val, datetime.datetime):
            # exact, at the literal's own unit; searchsorted would otherwise
            # compare by casting the whole dictionary to objects
            val = pd.Timestamp(val).to_datetime64()
        lo, hi = sorted_range(v, op, val)
        return lo + shift, hi + shift

    def in_bins(self, vals) -> np.ndarray:
        """Sorted distinct bins of ``col IN vals``: the union of the ``=``
        bins, so a literal matches here exactly when ``=`` matches it."""
        bins = {lo for lo, hi in (self.bin_range("=", v) for v in vals) if hi > lo}
        return np.array(sorted(bins), dtype=np.int64)

    def valid_bins_mask(self, op: str, val) -> np.ndarray:
        """Boolean mask over the full bin domain for ``col <op> val``,
        filled from ``bin_range`` (``in_bins`` for ``'in'``, which is
        beyond the reference's op set). The NULL bin is always False."""
        mask = np.zeros(self.distribution_size, dtype=bool)
        if op == "in":
            mask[self.in_bins(val)] = True
        else:
            lo, hi = self.bin_range(op, val)
            mask[lo:hi] = True
        return mask


def _collect_distinct(df: DataFrame, col: str) -> tuple[np.ndarray, bool]:
    """Distinct values of one column -> (sorted non-null numpy array, has_null).

    The distinct() shuffle reduces to the domain; the sort happens driver-side
    on the (small) domain, which sidesteps a needless distributed sort.
    """
    pdf = df.select(col).distinct().toPandas()
    s = pdf[col]
    null_mask = s.isnull()
    has_null = bool(null_mask.any())
    nonnull = s[~null_mask]
    dtype = s.dtype
    if pd.api.types.is_datetime64_any_dtype(dtype):
        values = np.sort(nonnull.values.astype("datetime64[us]"))
    elif dtype == object:
        values = np.sort(nonnull.to_numpy(dtype=object))
    else:
        values = np.sort(nonnull.to_numpy())
    return values, has_null


class DictionaryEncoder:
    """Fit per-column order-preserving dictionaries; transform raw<->bins.

    MLlib-style fit/transform, but the ordering is by *value* (ascending,
    NULL first), not by frequency — see module docstring.
    """

    def __init__(self, columns: list[str], max_collect_domain: int = DEFAULT_MAX_COLLECT_DOMAIN):
        self.columns = list(columns)
        self.max_collect_domain = max_collect_domain
        self.dictionaries: dict[str, ColumnDictionary] = {}
        self._big_dicts: dict[str, DataFrame] = {}  # DataFrame-backed (value, __bin)

    # ---------------------------------------------------------------- fit
    def fit(self, df: DataFrame) -> "DictionaryEncoder":
        # One job per column (at most max+1 distincts pulled; only if the
        # domain overflows do we fall back to a distributed dictionary).
        # Columns are fit CONCURRENTLY — Spark schedules independent jobs
        # from separate driver threads in parallel, so fit wall-clock is
        # ~the slowest column, not the sum.
        from concurrent.futures import ThreadPoolExecutor

        def fit_one(c: str):
            probe = df.select(c).distinct().limit(self.max_collect_domain + 1)
            values, has_null = _collect_distinct(probe, c)
            return c, values, has_null

        with ThreadPoolExecutor(max_workers=min(8, len(self.columns))) as ex:
            for c, values, has_null in ex.map(fit_one, self.columns):
                if len(values) + int(has_null) <= self.max_collect_domain:
                    self.dictionaries[c] = ColumnDictionary(c, values, has_null)
                else:
                    self._big_dicts[c] = self._rank_distributed(df, c)
        return self

    @staticmethod
    def _rank_distributed(df: DataFrame, col: str) -> DataFrame:
        """Scalable rank of a huge domain: range-partitioned sort + cumulative
        partition offsets (zipWithIndex) instead of a single-partition window.
        """
        d = df.select(col).distinct().orderBy(F.col(col).asc_nulls_first())
        rdd = d.rdd.zipWithIndex()
        spark = df.sparkSession
        return spark.createDataFrame(
            rdd.map(lambda r: (r[0][0], r[1])), schema=f"`{col}` {df.schema[col].dataType.simpleString()}, __bin long"
        )

    # ---------------------------------------------------------- transform
    def transform(self, df: DataFrame, suffix: str = "__bin", strict: bool = True) -> DataFrame:
        """Append ``{col}{suffix}`` int32 bin columns. Zero shuffle for
        collected dictionaries (broadcast + Arrow-batched searchsorted)."""
        small_cols = [c for c in self.columns if c in self.dictionaries]
        out = df
        if small_cols:
            spark = df.sparkSession
            bc = spark.sparkContext.broadcast({c: self.dictionaries[c] for c in small_cols})
            schema_add = ", ".join(f"`{c}{suffix}` int" for c in small_cols)
            # per-field DDL with backticks — simpleString() would emit
            # unquoted names, which breaks on columns containing spaces
            # (e.g. the reference's DMV headers like `Record Type`)
            base = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
            )
            out_schema = base + ", " + schema_add

            def encode_batches(it):
                dicts = bc.value
                for pdf in it:
                    for c in small_cols:
                        col_arr = pdf[c].to_numpy() if pdf[c].dtype != object else pdf[c].to_numpy(dtype=object)
                        if pd.api.types.is_datetime64_any_dtype(pdf[c].dtype):
                            col_arr = pdf[c].values.astype("datetime64[us]")
                        pdf[f"{c}{suffix}"] = dicts[c].encode_array(col_arr, strict=strict)
                    yield pdf

            out = out.mapInPandas(encode_batches, schema=out_schema)
        for c, dict_df in self._big_dicts.items():
            renamed = dict_df.withColumnRenamed("__bin", f"{c}{suffix}")
            out = out.join(renamed, on=c, how="left").withColumn(
                f"{c}{suffix}", F.col(f"{c}{suffix}").cast(IntegerType())
            )
        return out

    def inverse_transform_column(self, df: DataFrame, col: str, bin_col: str, out_col: str) -> DataFrame:
        """Decode one bin column back to raw values (IndexToString analog)."""
        d = self.dictionaries[col]
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(d)
        ret_type = df.sparkSession.createDataFrame(pd.DataFrame({"v": pd.Series(d.values[:1])})).schema["v"].dataType if len(d.values) else df.schema[bin_col].dataType

        @F.pandas_udf(ret_type)
        def decode(b: pd.Series) -> pd.Series:
            return pd.Series(bc.value.decode_array(b.to_numpy()))

        return df.withColumn(out_col, decode(F.col(bin_col)))

    # ------------------------------------------------------------- meta
    def table_meta(self, df: DataFrame, name: str, cardinality: int | None = None) -> TableMeta:
        card = cardinality if cardinality is not None else df.count()
        cols = []
        for c in self.columns:
            if c in self.dictionaries:
                d = self.dictionaries[c]
                cols.append(ColumnMeta(c, df.schema[c].dataType.simpleString(), d.distribution_size, d.has_null))
            else:
                big = self._big_dicts[c]
                n = big.count()
                has_null = big.filter(F.col(c).isNull()).count() > 0
                cols.append(ColumnMeta(c, df.schema[c].dataType.simpleString(), n, has_null))
        return TableMeta(name=name, columns=cols, cardinality=card, dictionaries=dict(self.dictionaries))
