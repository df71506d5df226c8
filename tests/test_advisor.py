"""CardinalityAdvisor: filtered-DataFrame plan -> Query IR -> estimate
(SURVEY §4 optimizer-integration side API)."""

import pytest
from pyspark.sql import functions as F

from naru_spark.estimators import Heuristic, Oracle
from naru_spark.meta import TableMeta
from naru_spark.plans import CardinalityAdvisor, extract_query
from naru_spark.plans.advisor import UnsupportedPlanError
from naru_spark.sources import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def li(spark):
    return load_table(spark, "lineitem", SF_SMOKE).cache()


def test_extract_conjuncts(li):
    f = li.filter(
        (F.col("l_quantity") <= 10)
        & (F.col("l_returnflag") == "A")
        & (F.col("l_shipdate") >= "1996-01-01")
    )
    q = extract_query(f, "lineitem")
    assert q.cols == ["l_quantity", "l_returnflag", "l_shipdate"]
    assert q.ops == ["<=", "=", ">="]


def test_advisor_oracle_exact(li):
    adv = CardinalityAdvisor(Oracle(li), "lineitem")
    f = li.filter((F.col("l_quantity") <= 10) & (F.col("l_returnflag") == "A"))
    assert adv.estimate(f) == f.count()


def test_flipped_operands_and_projection(li):
    adv = CardinalityAdvisor(Oracle(li), "lineitem")
    f = li.select("l_quantity", "l_discount").filter(F.lit(5) > F.col("l_quantity"))
    assert adv.estimate(f) == li.filter(F.col("l_quantity") < 5).count()


def test_sql_decimal_literal_on_double_column(li):
    """A SQL ``0.05`` is a DECIMAL literal: it reaches the Query IR as a
    ``Decimal`` and counts like Spark's own filter on a double column."""
    from decimal import Decimal

    f = li.filter("l_discount = 0.05 AND l_quantity > 30")
    q = extract_query(f, "lineitem")
    assert q.vals[q.cols.index("l_discount")] == Decimal("0.05")
    assert CardinalityAdvisor(Oracle(li), "lineitem").estimate(f) == f.count() > 0


def test_heuristic_routing(li):
    meta = TableMeta("lineitem", [], li.count())
    adv = CardinalityAdvisor(Heuristic(li, meta), "lineitem")
    f = li.filter(F.col("l_quantity") <= 10)
    # single-conjunct heuristic == exact selectivity
    truth = f.count()
    assert abs(adv.estimate(f) - truth) <= 1


def test_extract_disjunction_and_in(li):
    """OR filters DNF-expand to DisjunctiveQuery; IN parses as a value-set
    op; And-of-Or distributes — and every shape routed to Oracle matches
    the exact filtered count."""
    from naru_spark.predicates import DisjunctiveQuery

    adv = CardinalityAdvisor(Oracle(li), "lineitem")

    f_or = li.filter((F.col("l_quantity") < 5) | (F.col("l_tax") > 0.05))
    q = extract_query(f_or, "lineitem")
    assert isinstance(q, DisjunctiveQuery) and len(q.branches) == 2
    assert adv.estimate(f_or) == f_or.count()

    f_in = li.filter(F.col("l_returnflag").isin("A", "N"))
    q_in = extract_query(f_in, "lineitem")
    # Catalyst may keep In or rewrite small sets to Or-of-equals; both are
    # in-surface and must count exactly
    assert adv.estimate(f_in) == f_in.count()

    f_mix = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & ((F.col("l_quantity") < 5) | (F.col("l_returnflag") == "R"))
    )
    q_mix = extract_query(f_mix, "lineitem")
    assert isinstance(q_mix, DisjunctiveQuery) and len(q_mix.branches) == 2
    # the conjunct distributed into BOTH branches
    assert all("l_shipdate" in b.cols for b in q_mix.branches)
    assert adv.estimate(f_mix) == f_mix.count()


def test_dnf_cap_rejects_blowup(li):
    cond = None
    for c, v in [
        ("l_quantity", 5), ("l_tax", 0.05), ("l_discount", 0.05),
        ("l_linenumber", 2),
    ]:
        leaf = (F.col(c) < v) | (F.col(c) > v * 2)
        cond = leaf if cond is None else (cond & leaf)
    with pytest.raises(UnsupportedPlanError, match="DNF"):
        extract_query(li.filter(cond))  # 2^4 = 16 branches > cap 8


def test_unsupported_shapes_rejected(li):
    with pytest.raises(UnsupportedPlanError):
        extract_query(li)  # no filter
    with pytest.raises(UnsupportedPlanError):
        extract_query(li.filter(F.col("l_quantity") < F.col("l_linenumber")))
    with pytest.raises(UnsupportedPlanError):
        extract_query(li.filter(F.col("l_returnflag").like("A%")))


def test_estimate_join_rows_formula_and_accuracy(spark):
    """System-R containment estimate: exact on key-FK joins where every FK
    value exists (orders->customer at testdata scale), and the HLL variant
    stays within sketch tolerance."""
    from naru_spark.plans.joinplan import estimate_join_rows
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    cust = load_table(spark, "customer", SF_SMOKE)
    orders = load_table(spark, "orders", SF_SMOKE)
    e = estimate_join_rows(cust, orders, "c_custkey", "o_custkey")
    truth = cust.join(orders, cust.c_custkey == orders.o_custkey).count()
    assert e["est_rows"] == (e["n_left"] * e["n_right"]) // max(e["d_left"], e["d_right"])
    # FK join: every order's custkey is a real customer -> estimate is
    # close to truth (within 2x; exact when keys are uniform)
    assert truth > 0 and max(e["est_rows"], truth) / min(e["est_rows"], truth) < 2.0
    approx = estimate_join_rows(cust, orders, "c_custkey", "o_custkey", exact_distinct=False)
    assert max(approx["est_rows"], truth) / min(approx["est_rows"], truth) < 2.0
