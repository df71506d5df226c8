"""Estimator tests vs DuckDB oracle on sf0.001 (smoke) — mirrors the driver's
t2 check shape: Spark result == DuckDB result on the same parquet."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from naru_spark.encoding import DictionaryEncoder
from naru_spark.estimators import Const, Heuristic, Oracle, QueryRegionSize, Sampling, q_error
from naru_spark.predicates import Query, sql_predicate
from naru_spark.sources import load_table
from naru_spark.sources.registry import ESTIMATOR_COLUMNS
from naru_spark.workload import generate_workload
from tests.conftest import SF_SMOKE, SF_T2


@pytest.fixture(scope="module")
def lineitem(spark):
    df = load_table(spark, "lineitem", SF_SMOKE, ESTIMATOR_COLUMNS["lineitem"]).cache()
    enc = DictionaryEncoder(ESTIMATOR_COLUMNS["lineitem"]).fit(df)
    meta = enc.table_meta(df, "lineitem")
    return df, meta


@pytest.fixture(scope="module")
def workload(lineitem):
    _, meta = lineitem
    return generate_workload(SF_SMOKE, meta, "lineitem", num_queries=20, seed=1234)


def test_workload_shape(workload, lineitem):
    _, meta = lineitem
    for q in workload:
        assert 5 <= len(q.cols) <= 11
        assert len(set(q.cols)) == len(q.cols)
        for c, op in zip(q.cols, q.ops):
            if meta.column(c).distribution_size < 10:
                assert op == "="  # eval_model.py:194-195


def test_workload_deterministic(lineitem):
    _, meta = lineitem
    w1 = generate_workload(SF_SMOKE, meta, "lineitem", 5, seed=1234)
    w2 = generate_workload(SF_SMOKE, meta, "lineitem", 5, seed=1234)
    for a, b in zip(w1, w2):
        assert a.cols == b.cols and a.ops == b.ops and list(a.vals) == list(b.vals)


def _duck_counts(con, queries) -> list[int]:
    return [con.execute(f"SELECT COUNT(*) FROM lineitem WHERE {sql_predicate(q)}").fetchone()[0] for q in queries]


def _t2_batch() -> list:
    """A 256-query perfbench-shape batch over sf0.01 lineitem, its
    disjunctive workload, and string, Decimal, timestamp and NULL literals."""
    import datetime as dt
    from decimal import Decimal

    from naru_spark.workload import (
        generate_disjunctive_workload, generate_workload_from_pdf, load_table_pandas, pdf_table_meta,
    )

    cols = ESTIMATOR_COLUMNS["lineitem"]
    pdf = load_table_pandas(SF_T2, "lineitem", cols)
    meta = pdf_table_meta(pdf, "lineitem")
    literals = [
        Query("lineitem", ["l_returnflag", "l_linestatus"], ["<=", ">"], ["N", "F"]),
        Query("lineitem", ["l_quantity", "l_discount"], ["<", ">="], [Decimal("10.5"), Decimal("0.05")]),
        Query("lineitem", ["l_shipdate", "l_tax"], [">=", "<"], [dt.datetime(1995, 3, 15, 12), 0.04]),
        Query("lineitem", ["l_shipdate"], ["<"], [dt.date(1993, 1, 1)]),
        Query("lineitem", ["l_orderkey", "l_returnflag"], [">", "="], [100, None]),
        Query("lineitem", ["l_linestatus"], ["in"], [["O", None]]),
    ]
    return (
        generate_workload_from_pdf(pdf, meta, "lineitem", 256, seed=1)
        + generate_disjunctive_workload(SF_T2, meta, "lineitem", 32, seed=5678)
        + literals
    )


def test_oracle_matches_duckdb(spark, lineitem, workload, duck_smoke, duck_t2):
    """Every batch count equals DuckDB's: the sf0.001 workload, then one
    sf0.01 batch of perfbench-shape, disjunctive and typed-literal queries."""
    df, _ = lineitem
    assert Oracle(df).query_batch(workload) == _duck_counts(duck_smoke, workload)
    t2 = load_table(spark, "lineitem", SF_T2, ESTIMATOR_COLUMNS["lineitem"])
    batch = _t2_batch()
    assert Oracle(t2).query_batch(batch) == _duck_counts(duck_t2, batch)


def test_empty_batch_and_contradiction_are_exact(lineitem):
    """An empty batch counts nothing, and a conjunction of contradictory
    equalities is exactly 0 for Oracle and Heuristic alike."""
    df, meta = lineitem
    h = Heuristic(df, meta)
    assert Oracle(df).query_batch([]) == [] and h.query_batch([]) == []
    q = Query("lineitem", ["l_returnflag", "l_returnflag"], ["=", "="], ["A", "N"])
    assert h.query(q) == 0
    assert Oracle(df).query_batch([q]) == [0]


@pytest.fixture(scope="module")
def disjunctive_workload(lineitem):
    from naru_spark.workload import generate_disjunctive_workload

    _, meta = lineitem
    return generate_disjunctive_workload(SF_SMOKE, meta, "lineitem", 10, seed=5678)


def test_disjunctive_workload_shape(disjunctive_workload):
    from naru_spark.predicates import DisjunctiveQuery

    saw_in = saw_multi = False
    for q in disjunctive_workload:
        assert isinstance(q, DisjunctiveQuery)
        assert 2 <= len(q.branches) <= 3
        saw_multi = saw_multi or len(q.branches) > 1
        for b in q.branches:
            assert 2 <= len(b.cols) <= 4
            for op, v in zip(b.ops, b.vals):
                if op == "in":
                    saw_in = True
                    assert isinstance(v, list) and len(v) >= 1
    assert saw_in and saw_multi  # the surface actually exercises IN and OR


def test_ie_terms_expansion():
    """2 branches -> 3 terms (+,+,-); 3 branches -> 7 with IE signs; a
    conjunctive query is its own single term."""
    from naru_spark.predicates import DisjunctiveQuery, ie_terms

    a = Query("t", ["x"], ["="], [1])
    b = Query("t", ["y"], [">"], [2])
    c = Query("t", ["z"], ["<"], [3])
    assert ie_terms(a) == [(1, a)]
    t2 = ie_terms(DisjunctiveQuery("t", [a, b]))
    assert [coef for coef, _ in t2] == [1, 1, -1]
    assert t2[2][1].cols == ["x", "y"]  # the AND term concatenates
    t3 = ie_terms(DisjunctiveQuery("t", [a, b, c]))
    assert [coef for coef, _ in t3] == [1, 1, 1, -1, -1, -1, 1]


def test_disjunctive_oracle_matches_duckdb(lineitem, disjunctive_workload, duck_smoke):
    """Exact path: spark_predicate's OR/IN fold == DuckDB on the same data,
    both per-query and through the one-scan batch path."""
    df, _ = lineitem
    oracle = Oracle(df)
    batch = oracle.query_batch(list(disjunctive_workload))
    for q, est in zip(disjunctive_workload, batch):
        truth = duck_smoke.execute(
            f"SELECT COUNT(*) FROM lineitem WHERE {sql_predicate(q)}"
        ).fetchone()[0]
        assert est == truth, sql_predicate(q)
        assert oracle.query(q) == truth


def test_disjunctive_ie_is_exact_for_counts(lineitem, disjunctive_workload):
    """Inclusion-exclusion ground truth: the OR count equals the signed sum
    of the conjunctive term counts — the identity every model-based
    estimator's expansion relies on."""
    from naru_spark.predicates import ie_terms

    df, _ = lineitem
    oracle = Oracle(df)
    for q in disjunctive_workload[:4]:
        terms = ie_terms(q)
        signed = sum(coef * oracle.query(t) for coef, t in terms)
        assert signed == oracle.query(q)


def test_heuristic_disjunctive_bounds(lineitem, disjunctive_workload):
    """Heuristic on a disjunction: non-negative, never above the table, and
    a single-branch disjunction degenerates to the conjunctive estimate."""
    from naru_spark.predicates import DisjunctiveQuery

    df, meta = lineitem
    h = Heuristic(df, meta)
    ests = h.query_batch(list(disjunctive_workload))
    assert all(0 <= e <= meta.cardinality for e in ests)
    b = disjunctive_workload[0].branches[0]
    single = DisjunctiveQuery("lineitem", [b])
    assert h.query(single) == h.query(b)


def test_normalize_conjunct_intersects_same_column_equalities():
    """IE merged terms with same-column '='/'in' constraints: contradictory
    equalities -> None (exact 0); overlapping 'in' sets intersect; range
    predicates and distinct columns pass through untouched."""
    from naru_spark.predicates import normalize_conjunct

    # contradictory equalities: provably empty
    q = Query("t", ["c", "c"], ["=", "="], ["A", "N"])
    assert normalize_conjunct(q) is None
    # 'in' sets intersect (first-set order kept); singleton collapses to '='
    q = Query("t", ["c", "c"], ["in", "in"], [["A", "B", "C"], ["C", "B"]])
    n = normalize_conjunct(q)
    assert (n.cols, n.ops, n.vals) == (["c"], ["in"], [["B", "C"]])
    q = Query("t", ["c", "c"], ["in", "="], [["A", "B"], "B"])
    n = normalize_conjunct(q)
    assert (n.cols, n.ops, n.vals) == (["c"], ["="], ["B"])
    # disjoint 'in' sets: empty
    assert normalize_conjunct(Query("t", ["c", "c"], ["in", "in"], [["A"], ["B"]])) is None
    # a LONE 'in []' is rejected at Query construction; normalize_conjunct
    # independently returns None if an empty set ever reaches its shortcut
    import pytest

    with pytest.raises(AssertionError):
        Query("t", ["c"], ["in"], [[]])
    # ranges and other columns untouched, order preserved
    q = Query("t", ["a", "c", "c"], [">", "=", "="], [5, "X", "X"])
    n = normalize_conjunct(q)
    assert (n.cols, n.ops, n.vals) == (["a", "c"], [">", "="], [5, "X"])


def test_heuristic_contradictory_or_branches_not_biased(lineitem):
    """OR branches sharing a column with different equality values: the
    pairwise IE term (c='A' AND c='N') is unsatisfiable, so Heuristic's
    disjunctive estimate must equal the SUM of the branch estimates — the
    raw independence product over repeated predicates would subtract a
    spurious nonzero intersection and bias the estimate downward."""
    from naru_spark.predicates import DisjunctiveQuery

    df, meta = lineitem
    h = Heuristic(df, meta)
    a = Query("lineitem", ["l_returnflag"], ["="], ["A"])
    b = Query("lineitem", ["l_returnflag"], ["="], ["N"])
    disj = DisjunctiveQuery("lineitem", [a, b])
    est_a, est_b, est_or = h.query(a), h.query(b), h.query(disj)
    assert est_a > 0 and est_b > 0
    # ceil per-query makes the sum comparison off-by-rounding at most
    assert abs(est_or - (est_a + est_b)) <= 2


def test_region_size_rejects_disjunctive_without_wildcard_counting(lineitem):
    """count_wildcards=False makes branch volumes over different column
    subsets unit-incompatible — the IE path must fail loudly, while the
    conjunctive path still works."""
    from naru_spark.predicates import DisjunctiveQuery

    _, meta = lineitem
    r = QueryRegionSize(meta, count_wildcards=False)
    conj = Query("lineitem", ["l_returnflag"], ["="], ["A"])
    assert r.query(conj) >= 0  # conjunctive: fine
    disj = DisjunctiveQuery(
        "lineitem",
        [conj, Query("lineitem", ["l_linestatus"], ["="], ["O"])],
    )
    with pytest.raises(ValueError, match="count_wildcards"):
        r.query(disj)
    # the shipped config (count_wildcards=True) keeps the exact-union path
    assert QueryRegionSize(meta).query(disj) >= 0


def test_oracle_single_equals_batch(lineitem, workload):
    df, _ = lineitem
    oracle = Oracle(df)
    batch = oracle.query_batch(workload[:5])
    singles = [oracle.query(q) for q in workload[:5]]
    assert batch == singles


def test_heuristic_matches_duckdb_formula(lineitem, workload, duck_smoke):
    df, meta = lineitem
    h = Heuristic(df, meta)
    ests = h.query_batch(workload[:8])
    for q, est in zip(workload[:8], ests):
        sel = 1.0
        for c, op, v in zip(q.cols, q.ops, q.vals):
            cnt = duck_smoke.execute(
                f"SELECT COUNT(*) FROM lineitem WHERE {sql_predicate(Query(q.table, [c], [op], [v]))}"
            ).fetchone()[0]
            sel *= cnt / meta.cardinality
        assert est == int(np.ceil(sel * meta.cardinality))


def test_sampling_reasonable(lineitem, workload):
    df, meta = lineitem
    s = Sampling(df, meta, p=0.2, seed=42)
    oracle = Oracle(df)
    truths = oracle.query_batch(workload)
    ests = s.query_batch(workload)
    errs = [q_error(e, t) for e, t in zip(ests, truths) if t > 0]
    assert np.median(errs) < 100  # sanity, not precision


def test_region_size_positive_and_wildcards(lineitem, workload):
    _, meta = lineitem
    r = QueryRegionSize(meta)
    for q in workload[:5]:
        v = r.query(q)
        assert v >= 0
    full = QueryRegionSize(meta).query(Query("lineitem", [], [], []))
    expected = float(np.prod([float(c.distribution_size) for c in meta.columns]))
    assert full == expected


def test_const(workload):
    c = Const(7.0)
    assert c.query(workload[0]) == 7.0


def test_oracle_limit_first_n(spark, lineitem, workload):
    """Data-shift support (reference estimators.py:514-521): Oracle over the
    first n rows in a stable order equals a manual count on that prefix."""
    from pyspark.sql import functions as F

    df, _ = lineitem
    n = 500
    # (l_orderkey, l_linenumber) is a total order -> the prefix is stable
    prefix = df.orderBy("l_orderkey", "l_linenumber").limit(n).cache()
    q = workload[0]
    from naru_spark.predicates import spark_predicate

    assert Oracle(prefix).query(q) == prefix.filter(spark_predicate(q)).count()


def test_csv_source_roundtrip(spark, tmp_path):
    """A1/A13: CSV sink then CSV scan through the registry loader returns the
    same rows (types re-inferred)."""
    import pandas as pd

    from naru_spark.sources import load_table

    src = load_table(spark, "region", SF_SMOKE)
    pdf = src.toPandas()
    sf_dir = str(tmp_path)
    pdf.to_csv(f"{sf_dir}/region.csv", index=False)
    back = load_table(spark, "region", sf_dir)
    assert back.count() == src.count()
    assert {r["r_name"] for r in back.collect()} == {r["r_name"] for r in src.collect()}


def test_q_error_zero_handling():
    assert q_error(0, 0) == 1.0
    assert q_error(5, 0) == 5
    assert q_error(0, 7) == 7
    assert q_error(10, 5) == 2.0
    assert q_error(5, 10) == 2.0


def test_like_estimator_chain(spark):
    """n-gram chain LIKE estimator: exact on patterns the statistics pin
    down (single (n-1)-grams, absent grams), sane on longer chains."""
    from naru_spark.estimators.like import LikeEstimator

    rows = [(1, "abcd"), (2, "abce"), (3, "xbcd"), (4, "zzzz")]
    df = spark.createDataFrame(rows, ["id", "text"])
    est = LikeEstimator(df, "text", n=3)
    # (n-1)-gram path is exact doc frequency: 'ab' in rows 1,2
    assert est.query("ab") == 2.0
    assert est.query("zz") == 1.0
    # absent gram -> 0
    assert est.query("qq") == 0.0
    assert est.query("abq") == 0.0
    # full chain: P(abc)=2/4, P(bcd|bc)=f(bcd)/f(bc)=2/3 -> est=4*(1/2)*(2/3)
    assert abs(est.query("abcd") - 4 * (2 / 4) * (2 / 3)) < 1e-9
    # short patterns fall back to selectivity 1
    assert est.query("a") == 4.0
    # estimates never exceed the table
    for p in ["abcd", "bc", "zzz", "bcd"]:
        assert 0.0 <= est.query(p) <= 4.0


def test_like_estimator_anchored(spark):
    """prefix ('s%') and suffix ('%s') modes use position-anchored gram
    statistics; exact where statistics pin the answer."""
    from naru_spark.estimators.like import LikeEstimator

    rows = [(1, "abcd"), (2, "abce"), (3, "xbcd"), (4, "bcda")]
    df = spark.createDataFrame(rows, ["id", "text"])
    est = LikeEstimator(df, "text", n=3)
    # prefix (n-1)-gram: rows starting 'ab' = 2; 'bc' = 1; 'qq' = 0
    assert est.query_anchored("ab", "prefix") == 2.0
    assert est.query_anchored("bc", "prefix") == 1.0
    assert est.query_anchored("qq", "prefix") == 0.0
    # suffix: rows ending 'cd' = 2, 'da' = 1
    assert est.query_anchored("cd", "suffix") == 2.0
    assert est.query_anchored("da", "suffix") == 1.0
    # prefix chain: P(starts abc)=2/4 * P(bcd|bc)=f(bcd)/f(bc)
    f_bcd, f_bc = 3, 4  # bcd in rows 1,3,4; bc in all 4
    assert abs(est.query_anchored("abcd", "prefix") - 4 * (2 / 4) * (f_bcd / f_bc)) < 1e-9
    # suffix chain: P(ends bcd)=2/4 * P(abc precedes | bc...)=f(abc)/f(bc)
    assert abs(est.query_anchored("abcd", "suffix") - 4 * (2 / 4) * (2 / f_bc)) < 1e-9
    for p, a in [("abcd", "prefix"), ("abcd", "suffix"), ("ab", "prefix")]:
        assert 0.0 <= est.query_anchored(p, a) <= 4.0


def test_like_estimator_gram_cap(spark):
    """max_grams bounds the driver tables on a wide-alphabet (CJK-scale)
    corpus; capped estimates are pessimistic (only ever <= uncapped) and
    exact for patterns whose grams survive in the kept head."""
    import random

    from naru_spark.estimators.like import LikeEstimator

    rng = random.Random(7)
    # wide synthetic alphabet: 400 distinct chars -> thousands of grams
    alphabet = [chr(0x4E00 + i) for i in range(400)]
    hot = "".join(alphabet[:3])  # one deliberately frequent trigram
    rows = [
        (i, hot + "".join(rng.choice(alphabet) for _ in range(12)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["id", "text"])

    full = LikeEstimator(df, "text", n=3)
    capped = LikeEstimator(df, "text", n=3, max_grams=200)
    # the cap binds: full tables exceed it, capped tables are bounded
    assert len(full.freq_n) > 200
    assert len(capped.freq_n) <= 200 and len(capped.freq_n1) <= 200
    # hot grams survive and estimate identically to uncapped
    assert capped.query(hot) == full.query(hot) > 0
    # pessimistic bias: capped never exceeds uncapped, on hits and misses
    pats = [hot, hot[:2], "".join(rng.choice(alphabet) for _ in range(3)), "zz"]
    for p in pats:
        assert capped.query(p) <= full.query(p) + 1e-9
    # the ANCHORED tables honor the same cap (they previously collected the
    # full prefix/suffix vocabulary, re-opening the unbounded-driver case)
    capped.query_anchored(hot, "prefix")  # triggers lazy anchored fit
    for tbl in (
        capped.freq_prefix,
        capped.freq_prefix1,
        capped.freq_suffix,
        capped.freq_suffix1,
    ):
        assert len(tbl) <= 200
    # the hot anchored prefix survives the cap and stays exact
    full.query_anchored(hot, "prefix")
    assert capped.query_anchored(hot, "prefix") == full.query_anchored(hot, "prefix") > 0


# ------------------------------------------------- Spark-semantics differential
@pytest.fixture(scope="module")
def semantics_frame(spark):
    """Six typed columns with NULL, NaN, +-inf, '' and non-ASCII values, in
    two partitions, one of them empty."""
    import datetime as dt
    from decimal import Decimal as D

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dt", T.DateType()),
        T.StructField("dec", T.DecimalType(12, 2)),
    ])
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, 1.5, "a", dt.datetime(2024, 1, 1), dt.date(2024, 1, 1), D("1.50")),
        (2, nan, "", None, dt.date(2024, 1, 2), None),
        (3, inf, None, dt.datetime(2024, 1, 2, 12), dt.date(2024, 2, 1), D("-3.25")),
        (-4, -inf, "é", dt.datetime(2023, 12, 31, 23, 59, 59, 999999), dt.date(2023, 12, 31), D("0.00")),
        (5, None, "Zz", dt.datetime(2024, 1, 1, 0, 0, 0, 1), dt.date(2024, 1, 1), D("9999999999.99")),
        (6, 2.0, "日本", dt.datetime(2024, 1, 1), dt.date(2024, 1, 1), D("2.00")),
        (None, 0.0, "a", dt.datetime(2024, 1, 1, 23), None, D("1.50")),
        (2, nan, "ab", dt.datetime(1999, 6, 30, 8, 30), dt.date(1999, 6, 30), D("-0.01")),
    ]
    rdd = spark.sparkContext.parallelize([rows, []], 2).flatMap(lambda part: part)
    # materialized once, but not cached: a cached frame's batch pruning
    # skips the NaN rows of `d = NaN` and `d > inf`, so its filter would
    # disagree with Spark's own NaN semantics
    df = spark.createDataFrame(rdd, schema).localCheckpoint()
    assert df.rdd.glom().map(len).collect() == [len(rows), 0]
    return df


def _semantics_literals():
    """(column, literal) pairs: in-domain, boundary and out-of-domain
    values; NULL; NaN; +-inf; an int literal on the double column and a
    float literal on the int column; Decimal, date, datetime and a
    tz-aware Timestamp; plus pairs Spark itself rejects."""
    import datetime as dt
    from decimal import Decimal as D

    import pandas as pd

    nan, inf = float("nan"), float("inf")
    return {
        "i": [2, -4, 6, 100, -100, None, nan, inf, -inf, 2.5, -3.5, 1e20, D("2"), D("2.5"), True, "x"],
        "d": [1.5, 2.0, 0.0, -0.0, 2, -1, 1e300, None, nan, inf, -inf, D("1.5"), "x"],
        "s": ["a", "", "ab", "é", "日本", "Zz", "zzz", "A", None, 5],
        "ts": [
            dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 0, 0, 0, 1),
            dt.datetime(2023, 12, 31, 23, 59, 59, 999999), dt.datetime(1900, 1, 1), dt.datetime(2100, 1, 1),
            dt.date(2024, 1, 1), pd.Timestamp("2024-01-01 01:00", tz="Europe/Paris"),
            pd.Timestamp("2024-01-02 12:00"), None, 5, 1.5,
        ],
        "dt": [
            dt.date(2024, 1, 1), dt.date(2023, 12, 31), dt.date(2024, 2, 1), dt.date(1970, 1, 1),
            dt.datetime(2024, 1, 1, 12), pd.Timestamp("2024-01-02", tz="UTC"), None, 5,
        ],
        "dec": [
            D("1.50"), D("1.505"), D("-3.25"), D("9999999999.99"), D("-0.01"), D("1E+1"), 2, 1.5,
            1e-05, 1e20, None, nan, inf, "x", True,
        ],
    }


def _semantics_queries():
    """Every op on every (column, literal) pair, ``in`` lists with NULL,
    multi-column conjunctions and 2-/3-branch disjunctions."""
    import datetime as dt
    from decimal import Decimal as D

    from naru_spark.predicates import DisjunctiveQuery

    singles = [
        Query("t", [c], [op], [v])
        for c, vs in _semantics_literals().items()
        for v in vs
        for op in ("=", "<", "<=", ">", ">=")
    ]
    ins = [
        Query("t", ["i"], ["in"], [[1, None, 3, 2.5]]),
        Query("t", ["d"], ["in"], [[float("nan"), 2.0, None]]),
        Query("t", ["s"], ["in"], [["a", None, "é", "missing"]]),
        Query("t", ["ts"], ["in"], [[dt.datetime(2024, 1, 1), None]]),
        Query("t", ["dt"], ["in"], [[dt.date(2024, 1, 1), dt.date(1999, 6, 30)]]),
        Query("t", ["dec"], ["in"], [[D("1.50"), None, 2]]),
        Query("t", ["i"], ["in"], [[None]]),
    ]
    conj = [
        Query("t", ["i", "s", "d"], [">=", "<", "<"], [1, "b", 3.0]),
        Query("t", ["ts", "dec", "i"], [">=", ">", "<"], [dt.datetime(2024, 1, 1), D("0"), 6]),
        Query("t", ["dt", "s", "i"], ["=", "in", ">"], [dt.date(2024, 1, 1), ["a", "Zz"], 0]),
        Query("t", ["d", "d"], [">", "<"], [1.0, float("inf")]),
        Query("t", ["s", "s"], [">=", "<="], ["", "a"]),
        Query("t", ["i", "dec", "d"], [">", "<", "="], [-10, D("100"), float("nan")]),
        Query("t", ["i", "s"], ["=", "="], [2, None]),
    ]
    b = conj + ins
    disj = [
        DisjunctiveQuery("t", [b[0], b[1]]),
        DisjunctiveQuery("t", [b[2], b[3], b[4]]),
        DisjunctiveQuery("t", [b[5], b[8], b[10]]),
        DisjunctiveQuery("t", [b[6], Query("t", ["d"], [">="], [float("nan")])]),
    ]
    return singles + ins + conj + disj


def test_batch_counts_follow_spark_filter_semantics(semantics_frame):
    """Differential test: ``Oracle.query_batch`` equals Spark's own
    ``filter(...).count()`` on every query Spark accepts, and raises on
    every query Spark rejects."""
    from naru_spark.predicates import spark_where

    oracle = Oracle(semantics_frame)
    ok, truths, rejected = [], [], []
    for q in _semantics_queries():
        try:
            truths.append(semantics_frame.filter(spark_where(q)).count())
            ok.append(q)
        except Exception:  # noqa: BLE001 — Spark's analysis/cast errors
            rejected.append(q)
    assert len(ok) > 300 and len(rejected) > 20  # both sides are exercised
    assert oracle.query_batch(ok) == truths
    for q in rejected:
        with pytest.raises(TypeError):
            oracle.query_batch([q])


def test_oracle_query_counts_nan_on_parquet_and_cached_frames(spark, tmp_path):
    """A single query counts NaN matches that a parquet or cached scan's
    statistics-based pruning drops: ``d = NaN``, ``d > 5.0`` and ``d > inf``
    each match the NaN row, as in DuckDB."""
    from types import SimpleNamespace

    import duckdb
    from pyspark.sql import types as T

    nan, inf = float("nan"), float("inf")
    schema = T.StructType([T.StructField("d", T.DoubleType())])
    rows = [(1.0,), (nan,), (3.0,), (None,)]
    path = str(tmp_path / "nan.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    cached = spark.createDataFrame(rows, schema).cache()
    sampling = Sampling(cached, SimpleNamespace(cardinality=4), p=1.0)  # its sample is cached too
    frames = [spark.read.parquet(path), cached]
    duck = duckdb.connect()
    try:
        for q in [Query("t", ["d"], [op], [v]) for op, v in (("=", nan), (">", 5.0), (">", inf))]:
            truth = duck.execute(f"SELECT COUNT(*) FROM read_parquet('{path}/*.parquet') WHERE {sql_predicate(q)}").fetchone()[0]
            assert truth == 1, sql_predicate(q)
            for df in frames:
                assert Oracle(df).query(q) == truth, sql_predicate(q)
            assert sampling.query(q) == truth
    finally:
        duck.close()
        del sampling  # unpersists its cached sample
        cached.unpersist()


# ------------------------------------------------------------ chunked counting
def _chunk_columns(n: int, seed: int = 7):
    """bigint ``i``, double ``d`` and string ``s`` columns over ``n`` rows,
    about a tenth NULL (and for ``d`` another tenth NaN), with string values
    drawn from a window that moves along the rows."""
    rng = np.random.default_rng(seed)
    i = rng.integers(-50, 51, n)
    d = np.round(rng.uniform(-10, 10, n), 1)
    d[rng.random(n) < 0.1] = np.nan
    d[rng.random(n) < 0.01] = np.inf
    k = np.arange(n) // 40_000 * 4 + rng.integers(0, 10, n)
    s = np.char.add("v", np.char.zfill(k.astype(str), 3))
    return {c: (x, rng.random(n) >= 0.1) for c, x in (("i", i), ("d", d), ("s", s))}


def _arrow_batches(cols: dict, sizes: list) -> list:
    import pyarrow as pa

    out, start = [], 0
    for size in sizes:
        sl = slice(start, start + size)
        arrays = [pa.array(x[sl], mask=~ok[sl]) for x, ok in cols.values()]
        out.append(pa.RecordBatch.from_arrays(arrays, names=list(cols)))
        start += size
    return out


def _chunk_queries() -> list:
    from naru_spark.predicates import DisjunctiveQuery

    nan, inf = float("nan"), float("inf")
    singles = [
        Query("t", ["i"], ["="], [7]),
        Query("t", ["i"], ["<"], [-20]),
        Query("t", ["i"], [">="], [45]),
        Query("t", ["d"], ["="], [nan]),
        Query("t", ["d"], [">"], [5.0]),
        Query("t", ["d"], [">"], [inf]),
        Query("t", ["d"], ["<="], [0.0]),
        Query("t", ["d"], ["="], [1.5]),
        Query("t", ["d"], ["in"], [[nan, 2.0, None]]),
        Query("t", ["s"], ["="], ["v005"]),
        Query("t", ["s"], ["="], ["v030"]),
        Query("t", ["s"], [">="], ["v012"]),
        Query("t", ["s"], ["<"], ["v02"]),
        Query("t", ["s"], ["in"], [["v001", "v033", None, "w"]]),
        Query("t", ["i"], ["="], [None]),
        Query("t", [], [], []),
    ]
    conj = [
        Query("t", ["i", "d", "s"], [">", "<", ">="], [0, 3.0, "v010"]),
        Query("t", ["d", "i"], ["=", "<"], [nan, 10]),
        Query("t", ["s", "s", "d"], [">=", "<=", ">="], ["v008", "v020", inf]),
        Query("t", ["i", "s"], ["in", "in"], [[1, 2, 3], ["v004", "v021"]]),
    ]
    disj = [
        DisjunctiveQuery("t", [conj[0], singles[9]]),
        DisjunctiveQuery("t", [conj[1], singles[5], singles[13]]),
        DisjunctiveQuery("t", [singles[2], conj[3], Query("t", ["i"], ["="], [None])]),
        DisjunctiveQuery("t", [singles[0], Query("t", [], [], [])]),
    ]
    return singles + conj + disj


def _numpy_count(cols: dict, q) -> int:
    """Spark's filter semantics by plain elementwise numpy: NULL never
    matches, NaN equals NaN and sorts above every other double."""
    from naru_spark.predicates import DisjunctiveQuery

    n = len(next(iter(cols.values()))[0])

    def match(c, op, v):
        x, ok = cols[c]
        if op == "in":
            return np.logical_or.reduce([match(c, "=", u) for u in v])
        if v is None:
            return np.zeros(n, dtype=bool)
        if x.dtype.kind == "f":  # order by (is NaN, value)
            xn, vn = np.isnan(x), v != v
            xv, vv = np.where(xn, 0.0, x), 0.0 if vn else v
            lt, eq = (xn < vn) | ((xn == vn) & (xv < vv)), (xn == vn) & (xv == vv)
        else:
            lt, eq = x < v, x == v
        return {"=": eq, "<": lt, "<=": lt | eq, ">": ~(lt | eq), ">=": ~lt}[op] & ok

    def branch(b):
        return np.logical_and.reduce([np.ones(n, dtype=bool)] + [match(*p) for p in zip(b.cols, b.ops, b.vals)])

    branches = q.branches if isinstance(q, DisjunctiveQuery) else [q]
    return int(np.count_nonzero(np.logical_or.reduce([branch(b) for b in branches])))


def test_counts_do_not_depend_on_chunk_boundaries(monkeypatch):
    """Spark-free: a partition's batches coded and counted chunk by chunk
    as they arrive (a first batch's row stream), and built into coded
    chunk blobs and counted blob by blob, count exactly what one
    whole-partition chunk and a plain numpy count do. Both read their
    batches lazily, so no row-stream chunk holds more than ``CHUNK_ROWS``
    rows plus one input batch, and a small ``CHUNK_BYTES`` splits the blobs
    by bytes without changing a count."""
    from pyspark.sql import types as T

    from naru_spark.estimators import exact

    rng = np.random.default_rng(3)
    sizes = [0]  # an empty batch, then batches of 1,000-20,000 rows
    while sum(sizes) < 5 * exact.CHUNK_ROWS // 2:
        sizes.append(int(rng.integers(1_000, 20_000)))
    n = sum(sizes)
    cols = _chunk_columns(n)
    batches = _arrow_batches(cols, sizes)
    schema = T.StructType([
        T.StructField("i", T.LongType()), T.StructField("d", T.DoubleType()), T.StructField("s", T.StringType()),
    ])
    queries = _chunk_queries()
    used, kinds, plans = exact._compile(schema, queries)
    assert used == ["i", "d", "s"]

    def lazily(chunks, rows_of) -> tuple[list, list]:
        """Drain ``chunks(feed)`` with their row counts, checking that no
        batch is read ahead of the chunk yielded."""
        pulled, out, rows = [0], [], []

        def feed():
            for b in batches:
                pulled[0] += b.num_rows
                yield b

        for chunk in chunks(feed()):
            r = rows_of(chunk)
            assert pulled[0] == sum(rows) + r  # nothing read ahead
            out.append(chunk)
            rows.append(r)
        return out, rows

    def build() -> tuple[list, list]:
        return lazily(lambda feed: exact._coded_blobs(feed, kinds), lambda blob: blob.column("rows")[0].as_py())

    def counted(chunks) -> list:
        (out,) = list(exact._partition_counts(chunks, plans))
        assert out.column(0).to_pylist() == list(range(len(queries)))
        return out.column(1).to_pylist()

    stream, evaluated = lazily(lambda feed: exact._coded_rows(feed, kinds), lambda chunk: chunk[1])
    chunked = counted(iter(stream))
    assert len(evaluated) == 3 and sum(evaluated) == n
    assert all(rows <= exact.CHUNK_ROWS + max(sizes) for rows in evaluated)
    blobs, blob_rows = build()
    assert blob_rows == [n]  # the whole partition fits one blob
    assert counted(exact._read_coded(iter(blobs), used, kinds)) == chunked

    # NaN and NULL sit on both sides of every chunk boundary
    d, d_ok = cols["d"]
    for edge in np.cumsum(evaluated)[:-1]:
        for side in (slice(edge - 100, edge), slice(edge, edge + 100)):
            assert np.isnan(d[side]).any() and not d_ok[side].all() and not cols["i"][1][side].all()
    # the string values differ from chunk to chunk
    s = cols["s"][0]
    assert not set(s[: evaluated[0]]) & set(s[-evaluated[-1]:])

    whole = counted(iter([(exact._coded(batches, kinds), n)]))
    assert chunked == whole == [_numpy_count(cols, q) for q in queries]
    assert all(0 < c < n for c in chunked[:10])  # the queries are selective
    assert list(exact._coded_blobs(iter([]), kinds)) == []
    assert list(exact._partition_counts(exact._read_coded(iter([]), used, kinds), plans)) == []
    assert list(exact._partition_counts(exact._coded_rows(iter([]), kinds), plans)) == []

    # a byte cap of an eighth of the partition splits it into more blobs,
    # each over consecutive batches holding at most the cap plus one batch
    cap = sum(b.nbytes for b in batches) // 8
    monkeypatch.setattr(exact, "CHUNK_BYTES", cap)
    blobs, by_bytes = build()
    assert len(by_bytes) > len(evaluated) and sum(by_bytes) == n
    ends = set(np.cumsum(sizes).tolist())
    start = 0
    for rows in by_bytes:
        assert start + rows in ends
        size = sum(b.nbytes for b, first in zip(batches, np.cumsum([0] + sizes[:-1])) if start <= first < start + rows)
        assert size <= cap + max(b.nbytes for b in batches)
        start += rows
    assert counted(exact._read_coded(iter(blobs), used, kinds)) == chunked
    assert counted(exact._coded_rows(iter(batches), kinds)) == chunked


_NAN, _INF = float("nan"), float("inf")
_T0 = 1_600_000_000_000_000  # 2020-09-13 12:26:40 UTC in microseconds
_DOUBLE_EDGES = [_NAN, _INF, -_INF, 1e-05, 1e20, 2**70, -0.0]


@st.composite
def _coded_case(draw):
    """A random table of every column kind the counter codes, each with
    NULL, split into random batches, and random conjunctions and
    disjunctions whose literals are in the domain, on its boundaries,
    outside it, or DOUBLE-parsed edge values (NaN, +-inf, 1e-05, 1e20)."""
    from datetime import datetime, timezone
    from decimal import Decimal

    import pyarrow as pa

    from naru_spark.predicates import DisjunctiveQuery

    n = draw(st.integers(1, 120))

    def column(values):
        return draw(st.lists(st.one_of(st.none(), values), min_size=n, max_size=n))

    raw = {
        "i": column(st.integers(-3, 3)),
        "dec": column(st.integers(-300, 300)),  # unscaled DECIMAL(10, 2)
        "d": column(st.sampled_from([_NAN, _INF, -_INF, -0.0, 0.0, 1.5, -2.25, 3.0, 1e-05])),
        "s": column(st.sampled_from(["", "a", "ab", "b", "é", "z"])),
        "t": column(st.integers(-3, 3).map(lambda k: _T0 + k * 1_000_000)),
    }
    arrow = {
        "i": pa.array(raw["i"], pa.int64()),
        "dec": pa.array([None if u is None else Decimal(u).scaleb(-2) for u in raw["dec"]], pa.decimal128(10, 2)),
        "d": pa.array(raw["d"], pa.float64()),
        "s": pa.array(raw["s"], pa.string()),
        "t": pa.array(raw["t"], pa.timestamp("us", tz="UTC")),
    }
    fill = {"i": 0, "dec": 0, "d": 0.0, "s": "", "t": 0}
    # the reference compares exact columns as doubles: exact here, as every
    # value and every literal of them has few digits
    ref = {
        c: (
            np.array([fill[c] if v is None else v for v in vals], dtype=object if c == "s" else None),
            np.array([v is not None for v in vals]),
        )
        for c, vals in raw.items()
    }
    ref["i"] = (ref["i"][0].astype(np.float64), ref["i"][1])
    ref["dec"] = (ref["dec"][0] / 100, ref["dec"][1])
    ref["t"] = (ref["t"][0].astype("datetime64[us]"), ref["t"][1])

    def when(us: int) -> datetime:
        return datetime.fromtimestamp(us / 1e6, timezone.utc).replace(tzinfo=None)

    present = {c: [v for v in vals if v is not None] for c, vals in raw.items()}
    literal = {
        "i": st.sampled_from(present["i"] or [0]) | st.sampled_from([-4, 4, 100, 2.5, -0.5, 2**70, -(2**70)]),
        "dec": st.sampled_from([u / 100 for u in present["dec"]] or [0.0]).flatmap(
            lambda f: st.sampled_from([f, round(f + 0.01, 2), round(f - 0.01, 2), f + 0.005])
        ) | st.sampled_from([3.01, -3.01, 0, 2, 2**70]),
        "d": st.sampled_from(present["d"] or [0.0]) | st.sampled_from([0.5, -3.0, 1.5000001, 4.0]),
        # "a " stands just above "a": numpy drops the trailing NUL of "a\x00"
        "s": st.sampled_from(present["s"] or [""]) | st.sampled_from(["", "a ", "aa", "ba", "zz", "\uffff"]),
        "t": st.sampled_from(present["t"] or [_T0]).flatmap(lambda us: st.sampled_from([us, us - 1, us + 1]))
        .map(when) | st.sampled_from([when(_T0 - 10**12), when(_T0 + 10**12)]),
    }
    for c in ("i", "dec", "d"):
        literal[c] = literal[c] | st.sampled_from(_DOUBLE_EDGES)
    literal = {c: st.none() | lit for c, lit in literal.items()}
    ops = st.sampled_from(["=", "<", "<=", ">", ">=", "in"])

    @st.composite
    def conjunction(draw, min_size):
        k = draw(st.integers(min_size, 4))
        cols = [draw(st.sampled_from(list(raw))) for _ in range(k)]
        preds = [(c, draw(ops)) for c in cols]
        vals = [draw(st.lists(literal[c], min_size=1, max_size=3)) if op == "in" else draw(literal[c]) for c, op in preds]
        return Query("t", cols, [op for _, op in preds], vals)

    queries = draw(st.lists(
        conjunction(1) | st.lists(conjunction(0), min_size=2, max_size=3).map(lambda bs: DisjunctiveQuery("t", bs)),
        min_size=1, max_size=6,
    ))
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=3)))
    table = pa.RecordBatch.from_arrays(list(arrow.values()), names=list(arrow))
    batches = [table.slice(a, b - a) for a, b in zip([0] + cuts, cuts + [n])]
    return ref, batches, queries


@settings(max_examples=150, deadline=None)
@given(_coded_case())
def test_coded_counts_match_numpy(case):
    """Spark-free: the counter over coded chunks (the row stream's and the
    chunk frame's blobs) equals an elementwise numpy count, whatever the
    column kinds, NULL, NaN, +-inf, -0.0, literals and chunk boundaries."""
    from pyspark.sql import types as T

    from naru_spark.estimators import exact

    ref, batches, queries = case
    schema = T.StructType([
        T.StructField("i", T.LongType()), T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("d", T.DoubleType()), T.StructField("s", T.StringType()), T.StructField("t", T.TimestampType()),
    ])
    used, kinds, plans = exact._compile(schema, queries)
    all_kinds = [exact._column_kind(f.dataType) for f in schema.fields]

    def counted(chunks) -> list:
        out = list(exact._partition_counts(chunks, plans))
        return out[0].column(1).to_pylist() if out else []

    rows = counted((exact._coded([b.select(used)], kinds), b.num_rows) for b in batches if b.num_rows)
    blobs = counted(exact._read_coded(exact._coded_blobs(iter(batches), all_kinds), used, kinds))
    assert rows == blobs == [_numpy_count(ref, q) for q in queries]


def test_oracle_counts_one_partition_larger_than_a_chunk(spark):
    """One Spark partition holding more than two chunks: the batch counts
    equal Spark's own filter count."""
    from pyspark.sql import functions as F

    from naru_spark.estimators.exact import CHUNK_ROWS
    from naru_spark.predicates import DisjunctiveQuery, spark_where

    idc = F.col("id")
    df = spark.range(2 * CHUNK_ROWS + 17, numPartitions=1).select(
        ((idc * 7919) % 1000 - 500).alias("i"),
        F.when(idc % 13 == 0, F.lit(float("nan")))
        .when(idc % 17 == 0, F.lit(None))
        .otherwise((idc % 101) / 4.0)
        .alias("d"),
        F.when(idc % 19 == 0, F.lit(None))
        .otherwise(F.format_string("v%03d", (idc / 50_000).cast("int") * 3 + idc % 7))
        .alias("s"),
    ).localCheckpoint()
    assert df.rdd.getNumPartitions() == 1
    nan = float("nan")
    conj = [
        Query("t", ["i", "d"], [">", "<"], [100, 12.5]),
        Query("t", ["s", "d"], [">=", "="], ["v004", nan]),
        Query("t", ["i", "s", "d"], ["<=", "in", ">"], [0, ["v001", "v010", None], 3.0]),
    ]
    batch = conj + [
        Query("t", ["d"], ["="], [nan]),
        Query("t", ["d"], [">"], [float("inf")]),
        Query("t", ["s"], ["="], ["v012"]),
        Query("t", ["s"], ["<"], ["v006"]),
        Query("t", ["i"], ["in"], [[-500, 0, 499]]),
        DisjunctiveQuery("t", [conj[0], conj[1]]),
        DisjunctiveQuery("t", [conj[1], conj[2], Query("t", ["s"], ["="], ["v015"])]),
    ]
    truths = [df.filter(spark_where(q)).count() for q in batch]
    oracle = Oracle(df)
    assert all(truths) and oracle.query_batch(batch) == truths
    # the rows of the one source partition are dealt evenly over the cores:
    # a row-level round-robin from one partition leaves at most 1 row apart
    per_part = oracle.counts.chunks().groupBy(F.spark_partition_id()).agg(F.sum("rows")).collect()
    spread = [r[1] for r in per_part]
    assert len(spread) >= 2 and sum(spread) == df.count() and max(spread) - min(spread) <= 1
    assert oracle.query_batch(batch) == truths


def test_estimators_release_their_chunk_frames(spark):
    """Oracle and Heuristic cache nothing for one batch. From their second
    batch on they each cache one chunk frame, as Sampling does when it is
    made, their own even over the same table, and unpersist it when they
    are deleted."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    df = spark.range(1000).select((F.col("id") % 97).alias("i"))
    before = persisted().size()
    meta = SimpleNamespace(cardinality=1000)
    q = Query("t", ["i"], ["<"], [10])
    oracle, heuristic, sampling = Oracle(df), Heuristic(df, meta), Sampling(df, meta, p=0.5)
    assert persisted().size() == before + 1
    for cached in (1, 3):
        assert oracle.query(q) == df.filter("i < 10").count()
        assert 0 <= heuristic.query(q) <= 1000 and 0 <= sampling.query(q) <= 1000
        assert persisted().size() == before + cached
    del oracle, heuristic, sampling
    assert persisted().size() == before


def test_oracle_leaves_out_columns_it_cannot_compare(spark):
    """Array, map and binary columns stay out of the chunk blobs: a query on
    another column counts, and one on them raises ``TypeError`` before any
    job runs."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from naru_spark.predicates import spark_where

    idc = F.col("id")
    df = spark.range(100).select(
        idc.alias("i"), F.array(idc).alias("arr"), F.create_map(idc, idc).alias("m"), F.bin(idc).cast("binary").alias("b")
    )
    oracle = Oracle(df)
    for c in ("arr", "m", "b"):
        with pytest.raises(TypeError):
            oracle.query_batch([Query("t", [c], ["="], [1])])
    assert oracle.counts._chunks is None  # nothing was built
    q = Query("t", ["i"], [">="], [60])
    for _ in range(2):  # the second batch counts the chunk frame
        assert oracle.query_batch([q]) == [df.filter(spark_where(q)).count()] == [40]
    blob = oracle.counts._chunks.first().ipc
    assert pa.ipc.open_stream(blob).schema.names == ["i"]
