"""MaxDiff histogram, Chow-Liu BN, and Catalyst-CBO baseline estimators."""

import numpy as np
import pytest

from naru_spark.encoding import DictionaryEncoder
from naru_spark.estimators import Oracle, q_error
from naru_spark.estimators.bayes import BayesNet, chow_liu_tree, mutual_information, pairwise_mi_spark
from naru_spark.estimators.catalyst import CatalystCBO
from naru_spark.estimators.histogram import MaxDiffHistogram
from naru_spark.model.binning import predicate_masks
from naru_spark.sources import load_table
from naru_spark.sources.registry import ESTIMATOR_COLUMNS
from naru_spark.workload import generate_workload
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def lineitem_setup(spark):
    cols = ESTIMATOR_COLUMNS["lineitem"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols).cache()
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    encoded = enc.transform(df).select(*[f"{c}__bin" for c in cols]).toPandas()
    data = encoded.to_numpy(dtype=np.int64)
    wl = generate_workload(SF_SMOKE, meta, "lineitem", 15, seed=1234)
    truths = Oracle(df).query_batch(wl)
    yield df, enc, meta, data, cols, wl, truths
    df.unpersist()


def test_maxdiff_sanity(lineitem_setup):
    df, enc, meta, data, cols, wl, truths = lineitem_setup
    hist = MaxDiffHistogram(data, meta, cols, limit=500)
    assert len(hist.partitions) > 1
    assert hist.size_bytes() > 0
    errs = [q_error(max(hist.query(q), 1.0), t) for q, t in zip(wl, truths) if t > 0]
    # histogram on 11 dims is coarse; just require bounded blowup
    assert np.median(errs) < 100


def test_maxdiff_single_column_exact():
    """1-D maxdiff with enough buckets reproduces exact counts."""
    from naru_spark.encoding import ColumnDictionary
    from naru_spark.meta import ColumnMeta, TableMeta
    from naru_spark.predicates import Query

    rng = np.random.RandomState(0)
    vals = rng.randint(0, 20, size=2000)
    d = ColumnDictionary("c", np.arange(20, dtype=np.int64), has_null=False)
    meta = TableMeta("t", [ColumnMeta("c", "bigint", 20, False)], 2000, {"c": d})
    hist = MaxDiffHistogram(vals[:, None], meta, ["c"], limit=25)
    for v in [0, 5, 19]:
        est = hist.query(Query("t", ["c"], ["="], [int(v)]))
        true = int((vals == v).sum())
        assert q_error(max(est, 1), max(true, 1)) < 1.5, (v, est, true)


def test_baselines_disjunctive_surface(lineitem_setup):
    """IN / OR flow through MaxDiff, BayesNet (both inference modes) and
    QueryRegionSize via inclusion-exclusion. Identities checked:
    (c=x OR c=y) == (c IN (x,y)) on every estimator (two different code
    paths — per-branch IE vs a single unioned mask — must agree), the BN
    exact path obeys additivity on disjoint events, and region volume of a
    disjoint union adds exactly."""
    from naru_spark.estimators.exact import QueryRegionSize
    from naru_spark.predicates import DisjunctiveQuery, Query

    df, enc, meta, data, cols, wl, truths = lineitem_setup
    a = Query("lineitem", ["l_returnflag"], ["="], ["A"])
    b = Query("lineitem", ["l_returnflag"], ["="], ["N"])
    union = DisjunctiveQuery("lineitem", [a, b])
    inq = Query("lineitem", ["l_returnflag"], ["in"], [["A", "N"]])

    hist = MaxDiffHistogram(data, meta, cols, limit=500)
    bn_s = BayesNet(data, meta, cols, max_model_domain=64, num_samples=128)
    bn_e = BayesNet(data, meta, cols, max_model_domain=64, inference="exact")
    rs = QueryRegionSize(meta)
    for est in (hist, bn_s, bn_e, rs):
        u, i = est.query(union), est.query(inq)
        assert abs(u - i) < 1e-6 * max(u, 1.0), (type(est).__name__, u, i)
        assert u >= 0
    # BN exact additivity on disjoint single-column events
    assert abs(bn_e.query(union) - (bn_e.query(a) + bn_e.query(b))) <= 1.0
    # region volume: disjoint union adds exactly
    assert rs.query(union) == rs.query(a) + rs.query(b)
    # repeated-column AND term intersects, never multiplies: (x AND x) == x
    aa = Query("lineitem", ["l_returnflag", "l_returnflag"], ["=", "="], ["A", "A"])
    assert rs.query(aa) == rs.query(a)
    assert hist.query(aa) == hist.query(a)
    # overlapping disjunction never exceeds the sum of branches
    ov = DisjunctiveQuery(
        "lineitem",
        [
            Query("lineitem", ["l_quantity"], ["<="], [30.0]),
            Query("lineitem", ["l_quantity"], [">="], [10.0]),
        ],
    )
    for est in (hist, bn_e, rs):
        assert est.query(ov) <= est.query(ov.branches[0]) + est.query(ov.branches[1]) + 1e-6


def test_chow_liu_recovers_chain():
    """x0 -> x1 -> x2 chain: MST must pick edges (0,1), (1,2)."""
    rng = np.random.RandomState(1)
    n = 5000
    x0 = rng.randint(0, 4, n)
    x1 = (x0 + rng.binomial(1, 0.05, n)) % 4
    x2 = (x1 + rng.binomial(1, 0.05, n)) % 4
    xr = rng.randint(0, 4, n)  # independent
    cols = [x0, x1, x2, xr]
    D = 4
    mi = np.zeros((D, D))
    for i in range(D):
        for j in range(i + 1, D):
            joint = np.zeros((4, 4))
            np.add.at(joint, (cols[i], cols[j]), 1.0)
            mi[i, j] = mi[j, i] = mutual_information(joint)
    edges = set(map(tuple, chow_liu_tree(mi)))
    assert (0, 1) in edges
    assert (1, 2) in edges


def test_pairwise_mi_spark_matches_numpy(spark, lineitem_setup):
    df, enc, meta, data, cols, wl, truths = lineitem_setup
    got = pairwise_mi_spark(df, "l_returnflag", "l_linestatus")
    i, j = cols.index("l_returnflag"), cols.index("l_linestatus")
    joint = np.zeros((meta.column("l_returnflag").distribution_size,
                      meta.column("l_linestatus").distribution_size))
    np.add.at(joint, (data[:, i], data[:, j]), 1.0)
    assert abs(got - mutual_information(joint)) < 1e-9


def test_bayesnet_sanity(lineitem_setup):
    df, enc, meta, data, cols, wl, truths = lineitem_setup
    bn = BayesNet(data, meta, cols, max_model_domain=128, num_samples=256, seed=0)
    errs = [q_error(bn.query(q), t) for q, t in zip(wl, truths) if t > 0]
    assert np.median(errs) < 20


def test_bayesnet_spark_mi_path_agrees(spark, lineitem_setup):
    """BN built with the distributed MI path (pairwise_mi_spark over
    model_bin_df on the full table) must produce the same tree and the
    same estimates as the sample path when both see the same rows."""
    df, enc, meta, data, cols, wl, truths = lineitem_setup
    sub = cols[:4]
    idx = [cols.index(c) for c in sub]
    encoded = enc.transform(df).select(*[f"{c}__bin" for c in sub])
    bn_sample = BayesNet(data[:, idx], meta, sub, max_model_domain=64, num_samples=128, seed=0)
    bn_spark = BayesNet(
        data[:, idx], meta, sub, max_model_domain=64, num_samples=128, seed=0,
        spark_df=encoded,
    )
    assert bn_sample.edges == bn_spark.edges
    for q in wl[:5]:
        if all(c in sub for c in q.cols):
            assert bn_sample.query(q) == bn_spark.query(q)
    # and the MI numbers themselves agree pairwise
    from naru_spark.estimators.bayes import model_bin_df

    mbin = model_bin_df(encoded, bn_sample.binnings, sub)
    i, j = 0, 1
    got = pairwise_mi_spark(mbin, f"{sub[i]}__mbin", f"{sub[j]}__mbin")
    ei = bn_sample.binnings[sub[i]].encode(data[:, idx[i]])
    ej = bn_sample.binnings[sub[j]].encode(data[:, idx[j]])
    joint = np.zeros((bn_sample.binnings[sub[i]].model_size, bn_sample.binnings[sub[j]].model_size))
    np.add.at(joint, (ei, ej), 1.0)
    assert abs(got - mutual_information(joint)) < 1e-9


def test_bn_exact_inference_matches_brute_force():
    """query_exact (tree sum-product) must equal brute-force enumeration of
    the BN's joint distribution — zero sampling noise, exact to float
    precision."""
    import itertools

    from naru_spark.encoding import ColumnDictionary
    from naru_spark.estimators.bayes import BayesNet
    from naru_spark.meta import ColumnMeta, TableMeta
    from naru_spark.predicates import Query

    rng = np.random.RandomState(4)
    N, doms = 500, [5, 4, 6]
    cols = ["a", "b", "c"]
    base = rng.randint(0, doms[0], N)
    data = np.stack([base, (base + rng.randint(0, 2, N)) % doms[1], rng.randint(0, doms[2], N)], axis=1)
    dicts = {c: ColumnDictionary(c, np.arange(d, dtype=np.int64), False) for c, d in zip(cols, doms)}
    meta = TableMeta(
        "t",
        [ColumnMeta(c, "bigint", d, False) for c, d in zip(cols, doms)],
        cardinality=N,
        dictionaries=dicts,
    )
    for structure in ("chow_liu", "greedy"):
        bn = BayesNet(data, meta, cols, max_model_domain=16, num_samples=64,
                      structure=structure, inference="exact")
        # non-root nodes each have exactly one parent (it's a tree)
        assert sorted(v for _, v in bn.edges) == list(range(1, len(cols)))
        for q in (
            Query("t", ["a"], ["<="], [2]),
            Query("t", ["a", "b"], ["<=", "="], [3, 1]),
            Query("t", ["b", "c"], [">=", "<"], [1, 4]),
        ):
            masks = predicate_masks(q, bn.columns, bn.binnings)
            # brute-force: sum the BN joint over all assignments in the box
            total = 0.0
            for xs in itertools.product(*[range(d) for d in doms]):
                p = bn.cpd[0][xs[0]]
                for u, v in bn.edges:
                    p *= bn.cpd[v][xs[u], xs[v]]
                w = 1.0
                for i, m in enumerate(masks):
                    if m is not None:
                        w *= m[xs[i]]
                total += p * w
            expect = float(np.ceil(total * N))
            assert bn.query(q) == expect, (structure, q.cols, q.ops, q.vals)


def test_bn_sampling_converges_to_exact(lineitem_setup):
    """The progressive-sampling inference must converge on the exact
    sum-product answer as samples grow — the cross-check the exact path
    exists for."""
    from naru_spark.estimators.bayes import BayesNet

    df, enc, meta, data, cols, wl, truths = lineitem_setup
    from naru_spark.predicates import Query

    sub = cols[:4]
    idx = [cols.index(c) for c in sub]
    exact = BayesNet(data[:, idx], meta, sub, max_model_domain=64, inference="exact")
    sampled = BayesNet(data[:, idx], meta, sub, max_model_domain=64, num_samples=4096, seed=0)
    # queries anchored at real rows (the reference's query-gen discipline)
    # over the subset columns, so true cards are comfortably nonzero
    qs = []
    for r in (10, 100, 400):
        row = data[r]
        vals = [meta.dictionaries[c].bin_to_val(int(row[idx[i]])) for i, c in enumerate(sub[:2])]
        qs.append(Query("lineitem", sub[:2], ["<=", ">="], vals))
        vals3 = [meta.dictionaries[c].bin_to_val(int(row[idx[i]])) for i, c in enumerate(sub[:3])]
        qs.append(Query("lineitem", sub[:3], ["<=", ">=", "<="], vals3))
    checked = 0
    for q in qs:
        e, s = exact.query(q), sampled.query(q)
        if e >= 50:  # skip tiny counts where ceil dominates
            assert abs(s - e) / e < 0.25, (q.cols, e, s)
            checked += 1
    assert checked >= 2


def test_catalyst_cbo(spark, lineitem_setup):
    df, enc, meta, data, cols, wl, truths = lineitem_setup
    cbo = CatalystCBO(spark, f"{SF_SMOKE}/lineitem.parquet", "li_cbo_test")
    ests = [cbo.query(q) for q in wl[:8]]
    assert all(e >= 0 for e in ests)
    errs = [q_error(max(e, 1), t) for e, t in zip(ests, truths[:8]) if t > 0]
    assert np.isfinite(errs).all()
    # exact path agrees with oracle
    assert cbo.query_exact(wl[0]) == truths[0]
    # the timestamp-conjunct fallback is COUNTED: a shipdate predicate
    # trips Spark's FilterEstimation MatchError, fires the drop-conjunct
    # fallback, and increments the counter the report surfaces
    from naru_spark.predicates import Query

    ship_val = df.select("l_shipdate").first()[0]
    before = cbo.fallback_count
    est = cbo.query(Query("lineitem", ["l_shipdate"], ["<="], [ship_val]))
    assert est >= 0
    assert cbo.fallback_count == before + 1


def test_sampling_zero_estimate_matches_reference(spark, lineitem_setup):
    """Zero matching sample rows must estimate 0 (reference
    estimators.py:608-616) — q-error's zero-handling (est==0 -> q=true)
    owns the tail, not a floor inside the estimator."""
    from naru_spark.estimators.exact import Sampling
    from naru_spark.predicates import Query

    df, enc, meta, data, cols, wl, truths = lineitem_setup
    # p=1.0: the "sample" is the whole table, so an impossible predicate
    # matches nothing deterministically
    s = Sampling(df, meta, p=1.0, seed=0)
    q = Query("lineitem", ["l_quantity"], ["<"], [-1.0])
    assert s.query(q) == 0.0
    assert q_error(0.0, 123) == 123.0


def test_bn_root_choice_reroots_tree():
    """The reference exposes the BN root as a knob (estimators.py:742-772
    ``root=``); re-rooting must re-direct the CPDs and keep query_exact
    equal to brute-force enumeration of the re-rooted joint."""
    import itertools

    from naru_spark.encoding import ColumnDictionary
    from naru_spark.estimators.bayes import BayesNet
    from naru_spark.meta import ColumnMeta, TableMeta
    from naru_spark.predicates import Query

    rng = np.random.RandomState(7)
    N, doms = 400, [4, 5, 3]
    cols = ["a", "b", "c"]
    base = rng.randint(0, doms[0], N)
    data = np.stack(
        [base, (base + rng.randint(0, 2, N)) % doms[1], rng.randint(0, doms[2], N)],
        axis=1,
    )
    dicts = {c: ColumnDictionary(c, np.arange(d, dtype=np.int64), False) for c, d in zip(cols, doms)}
    meta = TableMeta(
        "t",
        [ColumnMeta(c, "bigint", d, False) for c, d in zip(cols, doms)],
        cardinality=N,
        dictionaries=dicts,
    )
    queries = [
        Query("t", ["a"], ["<="], [2]),
        Query("t", ["a", "b"], ["<=", "="], [2, 1]),
        Query("t", ["b", "c"], [">=", "<"], [1, 2]),
    ]
    for root in (1, 2):
        bn = BayesNet(data, meta, cols, max_model_domain=8, num_samples=64,
                      structure="chow_liu", inference="exact", root=root)
        assert bn.topo[0] == root and root not in bn.parent
        assert f"_r{root}_" in bn.name
        for q in queries:
            masks = predicate_masks(q, bn.columns, bn.binnings)
            total = 0.0
            for xs in itertools.product(*[range(d) for d in doms]):
                p = bn.cpd[root][xs[root]]
                for u, v in bn.edges:
                    p *= bn.cpd[v][xs[u], xs[v]]
                w = 1.0
                for i, m in enumerate(masks):
                    if m is not None:
                        w *= m[xs[i]]
                total += p * w
            assert bn.query(q) == float(np.ceil(total * N))
    # greedy structure rejects re-rooting (its tree is natural-order-anchored)
    with pytest.raises(AssertionError):
        BayesNet(data, meta, cols, max_model_domain=8, structure="greedy", root=1)


def test_catalyst_cbo_batch_matches_sequential(spark):
    """The threaded query_batch must return exactly the sequential
    estimates — a worker thread that loses the active session would read
    cbo.enabled=false and silently estimate 1.0 everywhere (the bug the
    per-thread session pin fixes)."""
    from naru_spark.estimators.catalyst import CatalystCBO
    from naru_spark.workload import generate_workload
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.sources import load_table
    from naru_spark.sources.registry import ESTIMATOR_COLUMNS
    from tests.conftest import SF_SMOKE

    cols = ESTIMATOR_COLUMNS["lineitem"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    wl = generate_workload(SF_SMOKE, meta, "lineitem", 8, seed=3)

    cbo = CatalystCBO(spark, f"{SF_SMOKE}/lineitem.parquet", "cbo_batch_t")
    seq = [cbo.query(q) for q in wl]
    fc = cbo.fallback_count
    batch = cbo.query_batch(wl, threads=8)
    assert batch == seq
    assert cbo.fallback_count == 2 * fc  # same fallbacks fired again
    # no silent degradation: at least one estimate must differ from 1.0
    assert any(e != 1.0 for e in batch)


def test_bn_greedy_multiparent_exact_ve(lineitem_setup):
    """structure='greedy', max_parents=2 (the reference's pomegranate
    greedy shape, eval_model.py:386) with inference='exact': generic
    variable elimination must equal the BRUTE-FORCE masked sum over the
    joint the CPDs define (enumerable at domain 8), and the sampling
    path must converge on it — pgmpy-VariableElimination parity for
    non-tree structures."""
    import itertools

    from naru_spark.estimators.bayes import BayesNet
    from naru_spark.predicates import Query

    df, enc, meta, data, cols, wl, truths = lineitem_setup
    sub = cols[:4]
    idx = [cols.index(c) for c in sub]
    bn = BayesNet(
        data[:, idx], meta, sub, max_model_domain=8,
        structure="greedy", max_parents=2, inference="exact",
    )
    assert bn.name == "bn_greedy2_exact"
    assert any(len(bn.parents[v]) == 2 for v in range(len(sub))), bn.parents
    sizes = [bn.binnings[c].model_size for c in sub]
    joint = np.zeros(sizes)
    for combo in itertools.product(*[range(s) for s in sizes]):
        p = 1.0
        for v in range(len(sub)):
            ps = bn.parents[v]
            p *= float(
                bn.cpd[v][tuple(combo[pp] for pp in ps) + (combo[v],)]
            )
        joint[combo] = p
    assert abs(joint.sum() - 1.0) < 1e-9  # the CPDs define a distribution

    qs = []
    for r in (10, 100, 400):
        row = data[r]
        vals = [
            meta.dictionaries[c].bin_to_val(int(row[idx[i]]))
            for i, c in enumerate(sub[:3])
        ]
        qs.append(Query("lineitem", sub[:2], ["<=", ">="], vals[:2]))
        qs.append(Query("lineitem", sub[:3], ["<=", ">=", "<="], vals))
    for q in qs:
        masks = predicate_masks(q, bn.columns, bn.binnings)
        m = joint.copy()
        for i in range(len(sub)):
            if masks[i] is not None:
                shape = [1] * len(sub)
                shape[i] = sizes[i]
                m = m * masks[i].reshape(shape)
        brute = float(m.sum())
        ve = bn._sel_exact(q)
        assert abs(ve - brute) < 1e-9, (q.cols, ve, brute)

    # sampling on the SAME structure converges on the exact answer
    bn_s = BayesNet(
        data[:, idx], meta, sub, max_model_domain=8,
        structure="greedy", max_parents=2, num_samples=4096, seed=0,
    )
    assert bn_s.parents == bn.parents
    checked = 0
    for q in qs:
        e, s = bn.query(q), bn_s.query(q)
        if e >= 50:
            assert abs(s - e) / e < 0.25, (q.cols, e, s)
            checked += 1
    assert checked >= 2


def test_bn_greedy3_exact_min_fill(lineitem_setup):
    """max_parents=3 exact inference (VERDICT r14 item 4): the min-fill
    elimination order must (a) equal brute-force masked enumeration of
    the joint the CPDs define, (b) never trip _VE_FACTOR_CAP on the
    seeded workload — the reverse-topological order it replaces can
    blow past the cap at max_parents >= 3 by eliminating hub variables
    early — and (c) cost no more than reverse-topo on every query
    (tracked via the largest induced factor)."""
    import itertools

    from naru_spark.estimators import bayes as bayes_mod
    from naru_spark.estimators.bayes import BayesNet, min_fill_order
    from naru_spark.predicates import Query

    df, enc, meta, data, cols, wl, truths = lineitem_setup
    sub = cols[:6]
    idx = [cols.index(c) for c in sub]
    bn = BayesNet(
        data[:, idx], meta, sub, max_model_domain=6,
        structure="greedy", max_parents=3, inference="exact",
    )
    assert bn.name == "bn_greedy3_exact"
    assert any(len(bn.parents[v]) == 3 for v in range(len(sub))), bn.parents

    # brute-force joint (6^6 = 46k cells)
    sizes = [bn.binnings[c].model_size for c in sub]
    joint = np.zeros(sizes)
    for combo in itertools.product(*[range(s) for s in sizes]):
        p = 1.0
        for v in range(len(sub)):
            ps = bn.parents[v]
            p *= float(bn.cpd[v][tuple(combo[pp] for pp in ps) + (combo[v],)])
        joint[combo] = p
    assert abs(joint.sum() - 1.0) < 1e-9

    qs = []
    for r in (10, 100, 400):
        row = data[r]
        vals = [
            meta.dictionaries[c].bin_to_val(int(row[idx[i]]))
            for i, c in enumerate(sub[:4])
        ]
        qs.append(Query("lineitem", sub[:2], ["<=", ">="], vals[:2]))
        qs.append(Query("lineitem", sub[:4], ["<=", ">=", "<=", ">="], vals))
    for q in qs:
        masks = predicate_masks(q, bn.columns, bn.binnings)
        m = joint.copy()
        for i in range(len(sub)):
            if masks[i] is not None:
                shape = [1] * len(sub)
                shape[i] = sizes[i]
                m = m * masks[i].reshape(shape)
        brute = float(m.sum())
        ve = bn._sel_exact(q)
        assert abs(ve - brute) < 1e-9, (q.cols, ve, brute)

    # the seeded workload never hits the cap (bn.query raises ValueError
    # past _VE_FACTOR_CAP; predicates on columns outside `sub` are
    # projected onto the fitted subset)
    for q in wl:
        kept = [
            (c, o, v) for c, o, v in zip(q.cols, q.ops, q.vals) if c in sub
        ]
        if not kept:
            continue
        qq = Query("lineitem", *[list(x) for x in zip(*kept)])
        assert bn.query(qq) >= 0

    # min-fill's worst induced factor never exceeds reverse-topo's —
    # sized by the production simulator itself (ve_order_stats()[0]), not
    # a hand-rolled twin that could drift from the cap-size definition
    def max_induced(factors, order):
        return bayes_mod.ve_order_stats(factors, order)[0]

    factors = [
        (tuple(bn.parents[v]) + (v,), bn.cpd[v]) for v in range(len(sub))
    ]
    mf = max_induced(factors, min_fill_order(factors))
    rt = max_induced(factors, list(reversed(bn.topo)))
    assert mf <= rt, (mf, rt)
    assert mf <= bayes_mod._VE_FACTOR_CAP

    # the CACHED chosen order costs no more than either candidate (the
    # engine picks the cheaper by simulated work — reverse-topo stays
    # the pick at max_parents<=2 where it measurably multiplies less)
    from naru_spark.estimators.bayes import ve_order_cost

    chosen = ve_order_cost(factors, bn._elim_order)
    assert chosen <= ve_order_cost(factors, list(reversed(bn.topo)))
    assert chosen <= ve_order_cost(factors, min_fill_order(factors))


def test_bn_exact_disconnected_node_goes_through_ve():
    """A greedy structure where a node ends up PARENTLESS (zero MI to
    every earlier column) must answer exactly through VE — the tree
    message-passing path would silently drop the disconnected node's
    mask factor. Forced by monkeypatching the structure; the answer is
    checked against brute-force joint enumeration."""
    import itertools

    from naru_spark.encoding import ColumnDictionary
    from naru_spark.estimators.bayes import BayesNet
    from naru_spark.meta import ColumnMeta, TableMeta
    from naru_spark.predicates import Query

    rng = np.random.RandomState(0)
    a = rng.randint(0, 4, 3000)
    b = (a + rng.randint(0, 2, 3000)) % 4      # correlated with a
    c = rng.randint(0, 4, 3000)                # independent
    data = np.stack([a, b, c], axis=1)
    dicts = {
        n: ColumnDictionary(n, np.arange(4, dtype=np.int64), has_null=False)
        for n in ("a", "b", "c")
    }
    meta = TableMeta(
        "t", [ColumnMeta(n, "bigint", 4, False) for n in ("a", "b", "c")],
        3000, dicts,
    )
    bn = BayesNet(data, meta, ["a", "b", "c"], max_model_domain=8,
                  structure="greedy", max_parents=2, inference="exact")
    # force the disconnected shape: c has NO parent
    bn.parents = {0: (), 1: (0,), 2: ()}
    bn.edges = [(0, 1)]
    sizes = [bn.binnings[n].model_size for n in ("a", "b", "c")]
    bn.cpd[2] = np.full(sizes[2], 1.0 / sizes[2])
    joint_ab = np.zeros((4, 4))
    np.add.at(joint_ab, (data[:, 0], data[:, 1]), 1.0)
    joint_ab += 1.0
    bn.cpd[1] = joint_ab / joint_ab.sum(axis=1, keepdims=True)
    # brute force over the forced structure
    joint = np.zeros(sizes)
    for combo in itertools.product(*[range(s) for s in sizes]):
        p = float(bn.cpd[0][combo[0]]) * float(
            bn.cpd[1][combo[0], combo[1]]
        ) * float(bn.cpd[2][combo[2]])
        joint[combo] = p
    q = Query("t", ["b", "c"], ["=", "="], [1, 2])
    masks = predicate_masks(q, bn.columns, bn.binnings)
    m = joint.copy()
    for i in range(3):
        if masks[i] is not None:
            shape = [1, 1, 1]
            shape[i] = sizes[i]
            m = m * masks[i].reshape(shape)
    assert abs(bn._sel_exact(q) - float(m.sum())) < 1e-9
