"""Exact and cheap estimators — Spark DataFrame jobs.

Reference (/root/reference/estimators.py):
- ``Oracle``        (505-536): exact conjunctive COUNT(*).
- ``Heuristic``     (480-502): independence assumption — product of
  per-column selectivities x cardinality.
- ``Sampling``      (584-616): uniform p% materialized sample; matching
  fraction x cardinality.
- ``QueryRegionSize`` (539-564): product of per-column #matching distinct
  values (bin-space hyper-rectangle volume).
- ``Const``         (567-581): constant baseline.

Scale design: every count, a single query's too, comes from one
``ExactCounts`` holder per estimator, and every batch runs ONE Spark job::

    frame.mapInArrow(count_partition, "q int, n long")

which counts each partition chunk by chunk. Every chunk column is *coded*:
``codes`` index its sorted distinct values ``uniq`` (NULL gets the code
``len(uniq)``, outside every range; NaN is one value, sorted last, as
Spark orders it), ``cum`` counts the rows below each code, and ``perm``
lists the rows in code order. A predicate is then one code range
``[lo, hi)`` from one ``encoding.sorted_range`` (the translation the
model masks use), an ``in`` the merged union of its ``=`` ranges. A
branch with one predicate is counted from ``cum`` without reading a row;
a conjunction starts from the ``perm`` slice of its predicate with the
fewest rows, known exactly from ``cum``, and each later predicate narrows
those rows with one unsigned range test on their narrow codes (``uint16``
while the domain fits). A disjunction counts the union of its branches'
rows. Chunks share no row, so their counts add up to the partition's
count vector, and the driver sums the partitions' vectors.

At the first batch ``frame`` is the table narrowed to the batch's columns,
and each chunk of at least ``CHUNK_ROWS`` rows is coded as it arrives: most
estimators count one batch, and this pruned scan is all they pay. The
second batch builds the *chunk frame* once: the rows of every column the
evaluator can compare are dealt round-robin over at least
``defaultParallelism`` partitions, so the cores hold equal shares, and each
partition codes its rows there, on every core, into as few chunks as
``CHUNK_BYTES`` allows (each chunk costs every batch a fixed overhead).
Each chunk is one Arrow IPC blob, a ``struct<code, perm>`` per column whose
``code`` is dictionary-encoded over ``uniq``; the frame of blobs is cached
and every later batch reads it zero-copy, so a reused estimator neither
re-converts nor re-codes a row. The batch travels as data, a broadcast of
typed per-query predicate lists, so no literal reaches the plan text and a
fresh batch pays no SQL analysis or codegen.

From its second batch on, an estimator counts its table as of that batch:
the cached blobs are a snapshot, so a later change to the table's files is
not seen, and a non-cached parquet frame is not re-read per batch.
``Sampling`` builds its frame when it is made, so its sample stays fixed.
The blobs are unpersisted when the estimator is garbage-collected.

The counts equal Spark's own filter over ``predicates.spark_where`` on a
frame whose scan prunes nothing (a parquet or cached scan prunes row groups
and batches by statistics that leave NaN out, so its filter can miss NaN
matches; these counts do not):

* NULL never matches; ``in`` is the union of its ``=`` matches.
* NaN equals NaN and sorts above +inf.
* Integral and decimal columns are unscaled int64 at the column's scale; an
  int, ``Decimal`` or decimal-form float literal (Spark parses ``2.5`` as a
  DECIMAL) compares exactly, one Spark parses as a DOUBLE (``1e-05``,
  ``inf``, NaN) compares against the column cast to double.
* Strings are coded per chunk in code-point order, which is Spark's binary
  UTF-8 order.
* Timestamps and dates are UTC microseconds; a ``date`` is its midnight and
  a tz-aware literal is converted to UTC.

A literal/column pair it cannot compare exactly raises ``TypeError`` before
any job runs. The blobs hold only the columns it can compare, so an array,
map or binary column that no query names costs nothing.
"""

from __future__ import annotations

import math
import threading
import weakref
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from naru_spark.estimators.base import CardEst
from naru_spark.meta import TableMeta
from naru_spark.encoding import sorted_range
from naru_spark.predicates import DisjunctiveQuery, Query, _bq

CHUNK_ROWS = 1 << 17  # rows a first batch gathers into one chunk
# ... or bytes: a blob stays far below Spark's 2 GiB limit on a binary value
CHUNK_BYTES = 64 << 20
_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)
_DAY_US = 86_400_000_000


# ------------------------------------------------------------- driver side
def _column_kind(dtype) -> tuple[str, int]:
    """How a column is held and compared: ``("int", scale)`` for integral
    and decimal columns as unscaled int64, ``("float", 0)``, ``("str", 0)``,
    or ``("time", 0)`` for timestamps and dates as UTC microseconds."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int", 0
    if isinstance(dtype, T.DecimalType) and dtype.precision <= 15:
        # <= 15 digits: the unscaled int64 casts to double exactly
        return "int", dtype.scale
    if isinstance(dtype, T.DoubleType):
        return "float", 0
    if isinstance(dtype, T.StringType) and dtype.collation == "UTF8_BINARY":
        return "str", 0
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "time", 0
    raise TypeError(f"exact batch counts cannot compare a {dtype.simpleString()} column")


def _utc_us(v) -> int:
    """A date/datetime literal as UTC microseconds (a date is its midnight)."""
    if isinstance(v, np.datetime64):
        return int(v.astype("datetime64[us]").astype(np.int64))
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // _US
    return (v - _EPOCH.date()).days * _DAY_US


def _int_test(op: str, r: Fraction):
    """``x <op> r`` over integers x as one integer comparison, or None when
    no x satisfies it."""
    if r.denominator == 1:
        return "raw", op, int(r)
    if op == "=":
        return None
    return "raw", ("<=" if op[0] == "<" else ">"), math.floor(r)


def _test(kind: str, scale: int, op: str, v):
    """``(view, op, value)``: Spark's ``col <op> v`` on a column of
    ``kind`` as one numpy comparison on the chunk's ``view`` of it
    ("raw", or "dbl" for an exact column cast to double), or None when it
    is never true."""
    if v is None:
        return None
    if kind == "str":
        if isinstance(v, str):
            return "raw", op, v
    elif kind == "time":
        if isinstance(v, (date, np.datetime64)) and not pd.isnull(v):
            return "raw", op, _utc_us(v)
    elif isinstance(v, (int, float, Decimal, np.integer, np.floating)) and not isinstance(v, (bool, np.bool_)):
        if isinstance(v, Decimal) and not v.is_finite():
            raise TypeError(f"non-finite Decimal literal {v!r}")
        if kind == "float":
            return "raw", op, float(v)
        if isinstance(v, (float, np.floating)):
            f = float(v)
            if not math.isfinite(f) or "e" in repr(f):
                return "dbl", op, f  # Spark parses this literal as a DOUBLE
            v = Decimal(repr(f))  # ... and this one as a DECIMAL
        return _int_test(op, Fraction(v if isinstance(v, Decimal) else int(v)) * 10**scale)
    raise TypeError(f"cannot compare a {kind} column with {v!r} exactly")


def _compile(schema: T.StructType, queries: list) -> tuple[list, list, list]:
    """The batch as data: the used column names, their ``(kind, scale)``,
    and per query its live branches, each a list of ``(column position,
    tests)`` whose tests are OR-ed (``in``)."""
    fields = {f.name: f.dataType for f in schema.fields}
    used: dict[str, int] = {}
    kinds: list[tuple[str, int]] = []
    plans = []
    for q in queries:
        branches = []
        for b in q.branches if isinstance(q, DisjunctiveQuery) else [q]:
            preds, live = [], True
            for c, op, v in zip(b.cols, b.ops, b.vals):
                if c not in fields:
                    raise ValueError(f"no column {c!r} among {list(fields)}")
                if c not in used:
                    used[c] = len(kinds)
                    kinds.append(_column_kind(fields[c]))
                pos = used[c]
                lits, op = (v, "=") if op == "in" else ([v], op)
                tests = tuple(t for t in (_test(*kinds[pos], op, x) for x in lits) if t is not None)
                live = live and bool(tests)
                preds.append((pos, tests))
            if live:
                branches.append(preds)
        plans.append(branches)
    return list(used), kinds, plans


def _comparable(dtype) -> bool:
    try:
        _column_kind(dtype)
    except TypeError:
        return False
    return True


def _unpersist(frame: DataFrame) -> None:
    if frame.sparkSession.sparkContext._jsc is not None:  # not after stop()
        frame.unpersist()


class ExactCounts:
    """Exact COUNT(*) of every (conjunctive or disjunctive) query of a
    batch in one Spark job: the first batch over ``df``'s used columns,
    every later one over ``df``'s cached frame of chunk blobs (see the
    module docstring); the batch ships as a broadcast, and the driver sums
    one count vector per partition."""

    def __init__(self, df: DataFrame):
        self.df = df
        self._chunks: DataFrame | None = None
        self._batches = 0
        self._lock = threading.Lock()

    def chunks(self) -> DataFrame:
        """The cached ``(rows, ipc)`` frame of coded chunk blobs: the rows
        of the columns it can compare, dealt round-robin over at least
        ``defaultParallelism`` partitions and coded there."""
        with self._lock:
            if self._chunks is None:
                df = self.df
                fields = [f for f in df.schema.fields if _comparable(f.dataType)]
                kinds = [_column_kind(f.dataType) for f in fields]
                parts = max(df.rdd.getNumPartitions(), df.sparkSession.sparkContext.defaultParallelism)
                rows = df.select(*([F.col(_bq(f.name)) for f in fields] or [F.lit(0)])).repartition(parts)
                blobs = rows.mapInArrow(lambda batches: _coded_blobs(batches, kinds), "rows long, ipc binary")
                # the literal makes the plan this holder's own: Spark caches
                # equal plans once, and the first holder released would drop
                # the blobs of another holder over the same table
                self._chunks = blobs.withColumn("holder", F.lit(id(self))).cache()
                weakref.finalize(self, _unpersist, self._chunks).atexit = False
            return self._chunks

    def __call__(self, queries: list) -> list[int]:
        if not queries:
            return []
        used, kinds, plans = _compile(self.df.schema, queries)
        with self._lock:
            self._batches += 1
            cached = self._chunks is not None or self._batches > 1
        # the first batch scans only its own columns: most estimators count
        # one batch, and the chunk frame would cost them a wider conversion,
        # a shuffle and a cached copy; the second batch builds the frame
        if cached:
            frame = self.chunks()
        else:
            frame = self.df.select(*([F.col(_bq(c)) for c in used] or [F.lit(0)]))
        bc = frame.sparkSession.sparkContext.broadcast((used, kinds, plans))

        def count_partition(batches):
            used, kinds, plans = bc.value
            chunks = _read_coded(batches, used, kinds) if cached else _coded_rows(batches, kinds)
            yield from _partition_counts(chunks, plans)

        try:
            rows = frame.mapInArrow(count_partition, "q int, n long").collect()
        finally:
            bc.destroy()
        out = np.zeros(len(queries), dtype=np.int64)
        for r in rows:
            out[r.q] += r.n
        return out.tolist()


# ---------------------------------------------------------- partition side
class _Coded:
    """One column of a chunk coded into its sorted distinct values:
    ``codes[i]`` indexes ``uniq`` (NULL is ``len(uniq)``, outside every
    range), ``cum[k]`` counts the rows coded below ``k``, and ``perm``
    lists the rows in code order."""

    def __init__(self, codes: np.ndarray, uniq: np.ndarray, scale: int, perm: np.ndarray):
        self.codes, self.uniq, self.scale, self.perm = codes, uniq, scale, perm
        m = len(uniq)
        self.cum = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(np.bincount(codes, minlength=m + 1)[:m], out=self.cum[1:])

    def ranges(self, tests: tuple) -> list:
        """The OR of ``tests`` as sorted, disjoint code ranges ``[lo, hi)``;
        a "dbl" test searches the exact values cast to double, as Spark
        casts them (monotone, so still sorted)."""
        out = []
        for lo, hi in sorted(
            sorted_range(self.uniq / 10.0**self.scale if view == "dbl" else self.uniq, op, v) for view, op, v in tests
        ):
            if out and lo <= out[-1][1]:
                out[-1][1] = max(out[-1][1], hi)
            elif lo < hi:
                out.append([lo, hi])
        return out

    def rows(self, ranges: list) -> np.ndarray:
        """The rows whose code lies in ``ranges``."""
        parts = [self.perm[self.cum[lo] : self.cum[hi]] for lo, hi in ranges]
        return parts[0] if len(parts) == 1 else np.concatenate(parts)

    def within(self, ranges: list, rows: np.ndarray) -> np.ndarray:
        """Which of ``rows`` have a code in ``ranges``."""
        c = self.codes[rows]
        if len(ranges) == 1:  # one unsigned compare: codes below lo wrap round
            (lo, hi), t = ranges[0], c.dtype.type
            return (c - t(lo)) < t(hi - lo)
        hit = np.zeros(len(self.uniq) + 1, dtype=bool)
        for lo, hi in ranges:
            hit[lo:hi] = True
        return hit[c]


def _code(arr, kind: str, scale: int) -> _Coded:
    """Code one Arrow column of a chunk (see ``_column_kind`` for its view)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ok = arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count else None
    strings = None
    if kind == "str":  # ranks in the dictionary sorted in code-point order
        enc = arr.dictionary_encode()
        order = pc.array_sort_indices(enc.dictionary).to_numpy()
        strings = enc.dictionary.to_numpy(zero_copy_only=False)[order]
        rank = np.zeros(len(order) + 1, dtype=np.int64)  # NULL: the last entry
        rank[order] = np.arange(len(order))
        x = rank[enc.indices.fill_null(len(order)).to_numpy()]
    elif pa.types.is_decimal(arr.type):
        # precision <= 15: the low word of each 128-bit value holds it
        words = np.frombuffer(arr.buffers()[1], dtype="<i8")
        x = words[2 * arr.offset : 2 * (arr.offset + len(arr)) : 2]
    elif pa.types.is_date(arr.type):
        x = arr.cast(pa.int32()).fill_null(0).to_numpy().astype(np.int64) * _DAY_US
    elif pa.types.is_timestamp(arr.type):
        x = arr.cast(pa.timestamp("us", arr.type.tz)).cast(pa.int64()).fill_null(0).to_numpy()
    else:
        x = arr.cast(pa.float64() if kind == "float" else pa.int64()).fill_null(0).to_numpy()
    if ok is None:
        order = np.argsort(x)  # NaN sorts last
    else:
        valid = np.flatnonzero(ok)
        order = valid[np.argsort(x[valid])]
    s = x[order]
    new = np.empty(len(s), dtype=bool)
    new[:1] = True
    np.not_equal(s[1:], s[:-1], out=new[1:])
    if kind == "float":  # NaN is one value
        new[1:] &= ~(np.isnan(s[1:]) & np.isnan(s[:-1]))
    uniq = s[new]
    codes = np.full(len(x), len(uniq), dtype=np.uint16 if len(uniq) < 1 << 16 else np.uint32)
    codes[order] = np.cumsum(new) - 1
    perm = order if ok is None else np.concatenate([order, np.flatnonzero(~ok)])
    return _Coded(codes, uniq if strings is None else strings[uniq], scale, perm)


def _chunks(batches, max_rows: int | None = None):
    """The partition's Arrow batches, read lazily, as lists of batches
    holding at least ``max_rows`` rows or ``CHUNK_BYTES`` bytes (the last
    one may hold fewer)."""
    chunk, n, size = [], 0, 0
    for b in batches:
        chunk.append(b)
        n += b.num_rows
        size += b.nbytes
        if (max_rows and n >= max_rows) or size >= CHUNK_BYTES:
            yield chunk, n
            chunk, n, size = [], 0, 0
    if n:
        yield chunk, n


def _coded(chunk: list, kinds: list) -> list:
    """A chunk's first ``len(kinds)`` columns, coded."""
    import pyarrow as pa

    return [_code(pa.concat_arrays([b.column(i) for b in chunk]), *kind) for i, kind in enumerate(kinds)]


def _coded_rows(batches, kinds: list):
    """The first batch's chunks ``(columns, rows)``: the partition's rows
    in chunks of at least ``CHUNK_ROWS`` rows, each coded as it arrives."""
    for chunk, n in _chunks(batches, CHUNK_ROWS):
        yield _coded(chunk, kinds), n


def _coded_blobs(batches, kinds: list):
    """One ``(rows, ipc)`` record per chunk of the partition, as few as
    ``CHUNK_BYTES`` allows: its row count and its coded columns as an
    Arrow IPC stream of one record batch, one ``struct<code, perm>``
    column per table column, whose ``code`` is dictionary-encoded over
    ``uniq`` and a NULL entry."""
    import pyarrow as pa

    for chunk, n in _chunks(batches):
        arrays = []
        for col, (kind, _) in zip(_coded(chunk, kinds), kinds):
            uniq = pa.array(col.uniq, pa.string() if kind == "str" else None)
            code = pa.DictionaryArray.from_arrays(col.codes, pa.concat_arrays([uniq, pa.nulls(1, uniq.type)]))
            arrays.append(pa.StructArray.from_arrays([code, pa.array(col.perm.astype(np.int32))], ["code", "perm"]))
        batch = pa.RecordBatch.from_arrays(arrays, names=chunk[0].schema.names[: len(kinds)])
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, batch.schema) as writer:
            writer.write_batch(batch)
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], pa.int64()), pa.array([sink.getvalue().to_pybytes()], pa.binary())], names=["rows", "ipc"]
        )


def _read_coded(batches, used: list, kinds: list):
    """The chunks ``(columns, rows)`` of a partition of the chunk frame:
    each blob read zero-copy, narrowed to the used columns."""
    import pyarrow as pa

    for b in batches:
        for n, blob in zip(b.column("rows").to_pylist(), b.column("ipc")):
            coded = pa.ipc.open_stream(blob.as_buffer()).read_next_batch()
            cols = []
            for name, (_, scale) in zip(used, kinds):
                code, perm = coded.column(name).flatten()
                uniq = code.dictionary.slice(0, len(code.dictionary) - 1).to_numpy(zero_copy_only=False)
                cols.append(_Coded(code.indices.to_numpy(), uniq, scale, perm.to_numpy()))
            yield cols, n


def _branch_rows(cols: list, n: int, preds: list, need_rows: bool):
    """A branch's matches over one chunk: ``(count, rows)``, rows None when
    every row matches or ``need_rows`` is false and one predicate is left.
    The predicate with the fewest matches, known from the cumulative
    counts, gives the candidate rows; each other one narrows them."""
    terms = []
    for pos, tests in preds:
        col = cols[pos]
        ranges = col.ranges(tests)
        k = sum(int(col.cum[hi] - col.cum[lo]) for lo, hi in ranges)
        if k == 0:
            return 0, None
        if k < n:  # k == n: the predicate holds on every row of the chunk
            terms.append((k, col, ranges))
    if not terms:
        return n, None
    terms.sort(key=lambda t: t[0])
    k, col, ranges = terms[0]
    if len(terms) == 1 and not need_rows:
        return k, None
    rows = col.rows(ranges)
    for _, col, ranges in terms[1:]:
        rows = rows[col.within(ranges, rows)]
        if not len(rows):
            break
    return len(rows), rows


def _partition_counts(chunks, plans: list):
    """One partition's count vector ``(q, n)`` over the compiled batch,
    counted chunk by chunk as ``chunks`` yields them. Chunks share no row,
    so their counts add up."""
    import pyarrow as pa

    counts, rows = np.zeros(len(plans), dtype=np.int64), 0
    for cols, n in chunks:
        rows += n
        for qi, branches in enumerate(plans):
            hits = [_branch_rows(cols, n, preds, len(branches) > 1) for preds in branches]
            live = [(k, r) for k, r in hits if k]
            if len(live) == 1 or any(r is None for _, r in live):
                counts[qi] += max(k for k, _ in live)
            elif live:
                seen = np.zeros(n, dtype=bool)
                for _, r in live:
                    seen[r] = True
                counts[qi] += np.count_nonzero(seen)
    if rows:
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.arange(len(plans), dtype=np.int32)), pa.array(counts)], names=["q", "n"]
        )


class Oracle(CardEst):
    """Exact count (estimators.py:505-536)."""

    name = "oracle"
    # query_batch is ONE amortized scan (ExactCounts) — its ms/q is not a
    # per-query latency (reports carry this flag)
    batch_scan = True

    def __init__(self, df: DataFrame, limit_first_n: int | None = None, order_col: str | None = None):
        super().__init__()
        # limit_first_n supports the reference's data-shift experiments
        # (estimators.py:514-521); needs a stable order to be meaningful.
        if limit_first_n is not None:
            if order_col is not None:
                df = df.orderBy(order_col).limit(limit_first_n)
            else:
                df = df.limit(limit_first_n)
        self.df = df
        self.counts = ExactCounts(df)

    def query(self, q: Query) -> int:
        return self.query_batch([q])[0]

    def query_batch(self, queries: list[Query]) -> list[int]:
        return self.counts(queries)


class Heuristic(CardEst):
    """Independence-assumption estimate (estimators.py:480-502).

    Per-column selectivity = exact matching count / cardinality, every
    distinct single-column predicate of all queries counted in one
    ``ExactCounts`` scan; product on the driver. Multiplication order is the
    query's column order, so results are bit-deterministic.
    """

    name = "heuristic"
    batch_scan = True  # amortized single-scan query_batch (see Oracle)

    def __init__(self, df: DataFrame, meta: TableMeta):
        super().__init__()
        self.df = df
        self.counts = ExactCounts(df)
        self.cardinality = meta.cardinality

    def query(self, q: Query) -> float:
        return self.query_batch([q])[0]

    def query_batch(self, queries: list[Query]) -> list[float]:
        # DisjunctiveQuery support: inclusion-exclusion expansion
        # (predicates.ie_terms) — every term is conjunctive, so the
        # per-column singles of ALL terms of ALL queries still ride ONE
        # ExactCounts scan; a conjunctive query expands to
        # itself with coefficient 1. Same-column '='/'in' constraints
        # inside a merged term INTERSECT first (normalize_conjunct):
        # contradictory equalities from OR branches sharing a column
        # (c='A' AND c='N') make the term exactly 0 — an independence
        # product over the raw repeated predicates would subtract a
        # spurious nonzero intersection and bias disjunctive estimates
        # downward.
        from naru_spark.predicates import ie_terms, normalize_conjunct

        terms = [
            [(coef, normalize_conjunct(t)) for coef, t in ie_terms(q)]
            for q in queries
        ]
        # Dedupe identical single-column predicates before the scan: the
        # seeded workloads repeat (col, op, val) constraints heavily
        # (measured: 222 singles -> 152 unique on the 30-query report
        # workload, 1984 -> 1004 on the 250-query paper slice), and each
        # duplicate costs one more column pass in every partition. Counts
        # are exact per predicate, so reading a shared count per
        # occurrence is bit-identical to the undeduped scan; the per-query
        # multiplication order below is unchanged.
        uniq_idx: dict = {}
        uniq_singles: list[Query] = []
        occ_idx: list[int] = []
        for qterms in terms:
            for _, t in qterms:
                if t is None:
                    continue
                for c, op, v in zip(t.cols, t.ops, t.vals):
                    # the literal's type and repr pin its value, so
                    # key-equal implies count-equal
                    key = (c, op, type(v), repr(v))
                    k_u = uniq_idx.get(key)
                    if k_u is None:
                        k_u = uniq_idx[key] = len(uniq_singles)
                        uniq_singles.append(Query(t.table, [c], [op], [v]))
                    occ_idx.append(k_u)
        uniq_counts = self.counts(uniq_singles)
        counts = [uniq_counts[i] for i in occ_idx]
        out, k = [], 0
        for qterms in terms:
            total = 0.0
            for coef, t in qterms:
                if t is None:  # unsatisfiable merged term: exact 0
                    continue
                sel = 1.0
                for _ in t.cols:
                    sel *= counts[k] / self.cardinality
                    k += 1
                total += coef * sel
            out.append(math.ceil(min(max(total, 0.0), 1.0) * self.cardinality))
        return out


class Sampling(CardEst):
    """Uniform-sample estimator (estimators.py:584-616).

    The sample is materialized once, as the cached chunk frame of its
    ``ExactCounts`` — the reference's ``table.data.sample(n)`` analog;
    estimates divide by the *actual* sample size, the sum of the frame's
    ``rows``, as the reference does (estimators.py:592-607).
    """

    name = "sampling"
    batch_scan = True  # amortized single-scan query_batch (see Oracle)

    def __init__(self, df: DataFrame, meta: TableMeta, p: float = 0.0013, seed: int = 42):
        super().__init__()
        self.cardinality = meta.cardinality
        self.sample_df = df.sample(fraction=min(1.0, p), seed=seed)
        self.counts = ExactCounts(self.sample_df)
        self.num_samples = self.counts.chunks().agg(F.sum("rows")).first()[0] or 0
        self.name = f"sampling_{self.num_samples}"

    def query(self, q: Query) -> float:
        return self.query_batch([q])[0]

    def query_batch(self, queries: list[Query]) -> list[float]:
        return [self._scale(m) for m in self.counts(queries)]

    def _scale(self, matched: int) -> float:
        if self.num_samples == 0:
            return 0.0
        # no floor: zero matching sample rows estimates 0, as the reference
        # does (estimators.py:608-616) — q-error's zero-handling (est==0 ->
        # q = true_card) owns that tail, not the estimator
        return matched / self.num_samples * self.cardinality


class QueryRegionSize(CardEst):
    """Volume of the query hyper-rectangle in bin space
    (estimators.py:539-564): product over columns of #matching distinct
    values; wildcard columns contribute full domain (count_wild=True) or 1.

    Uses the broadcast dictionaries — no Spark job at query time.
    """

    name = "region_size"

    def __init__(self, meta: TableMeta, count_wildcards: bool = True):
        super().__init__()
        self.meta = meta
        self.count_wildcards = count_wildcards

    def query(self, q: Query) -> float:
        # disjunctions by inclusion-exclusion — EXACT for volumes (the
        # measure of a union of hyper-rectangles); conjunctive input is its
        # own single term. The union-measure argument requires
        # count_wildcards=True: every branch volume must be measured over
        # the SAME full bin space (unqueried columns contribute their
        # domain size). With count_wildcards=False, branches over different
        # column subsets are in incompatible units (unqueried columns
        # contribute 1), so the signed sum is not a union measure — fail
        # loudly rather than return a meaningless number.
        from naru_spark.predicates import ie_terms

        terms = ie_terms(q)
        if len(terms) > 1 and not self.count_wildcards:
            raise ValueError(
                "QueryRegionSize: disjunctive inclusion-exclusion requires "
                "count_wildcards=True (branch volumes over different column "
                "subsets are unit-incompatible when unqueried columns "
                "contribute 1)"
            )
        total = sum(coef * self._volume(t) for coef, t in terms)
        return max(total, 0.0)

    def _volume(self, q: Query) -> float:
        # repeated columns INTERSECT their bin masks (IE's merged AND terms
        # repeat columns; independent products would over-count)
        per_col: dict[str, object] = {}
        for c, op, v in zip(q.cols, q.ops, q.vals):
            m = self.meta.dictionaries[c].valid_bins_mask(op, v)
            per_col[c] = m if c not in per_col else (per_col[c] & m)
        total = 1.0
        for cm in self.meta.columns:
            if cm.name not in per_col:
                total *= cm.distribution_size if self.count_wildcards else 1
            else:
                total *= int(per_col[cm.name].sum())
        return total


class Const(CardEst):
    """Constant baseline (estimators.py:567-581)."""

    name = "const"

    def __init__(self, const: float = 1.0):
        super().__init__()
        self.const = const

    def query(self, q: Query) -> float:
        return self.const
