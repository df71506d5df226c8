"""Property-based tests (hypothesis) for the pure-python/numpy kernels the
engine's correctness rests on — no SparkSession, so hundreds of generated
cases run in seconds:

- dictionary predicate masks == direct evaluation over the domain;
- the sampling step's fold and draw: no zero-weight draws, silent vanished
  rows, the masked share as path weight, one dtype;
- inclusion-exclusion expansion == exact set-union cardinality;
- the running-max-end interval-union increment == brute-force union length;
- greedy BPE encoding is lossless and equals apply-merges-in-rank-order;
- fractional model-bin masks conserve mass.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------- masks
@settings(max_examples=200, deadline=None)
@given(
    domain=st.lists(st.integers(-50, 50), min_size=1, max_size=30, unique=True),
    has_null=st.booleans(),
    op=st.sampled_from(["=", "<", "<=", ">", ">="]),
    val=st.integers(-60, 60),
)
def test_valid_bins_mask_matches_direct_eval(domain, has_null, op, val):
    from naru_spark.encoding import ColumnDictionary
    from naru_spark.predicates import NUMPY_OPS

    values = np.sort(np.array(domain, dtype=np.int64))
    d = ColumnDictionary("c", values, has_null=has_null)
    mask = d.valid_bins_mask(op, val)
    expect = NUMPY_OPS[op](values, val)
    assert mask.shape == (len(values) + int(has_null),)
    if has_null:
        assert not mask[0]  # NULL never matches
        assert (mask[1:] == expect).all()
    else:
        assert (mask == expect).all()


@settings(max_examples=200, deadline=None)
@given(
    domain=st.lists(st.floats(-50, 50), min_size=1, max_size=40, unique=True),
    has_null=st.booleans(),
    max_domain=st.integers(2, 48),
    op=st.sampled_from(["=", "<", "<=", ">", ">="]),
    val=st.one_of(st.floats(-60, 60), st.floats(allow_nan=True), st.integers(-60, 60)),
)
def test_predicate_mask_matches_bincount_of_direct_eval(domain, has_null, max_domain, op, val):
    """Over random sorted float domains, the model-bin mask equals the raw
    elementwise mask bincounted into model bins, byte for byte."""
    from naru_spark.encoding import ColumnDictionary
    from naru_spark.model.binning import ModelBinning
    from naru_spark.predicates import NUMPY_OPS

    values = np.sort(np.array(domain, dtype=np.float64))
    d = ColumnDictionary("c", values, has_null=has_null)
    b = ModelBinning(d, max_domain)
    raw = np.concatenate([[False] * has_null, NUMPY_OPS[op](values, val)]).astype(np.float64)
    expect = np.bincount(b.raw_to_model, weights=raw, minlength=b.model_size) / b.bin_counts
    got = b.predicate_mask(op, val)
    assert got.dtype == expect.dtype and got.tobytes() == expect.tobytes()


@settings(max_examples=100, deadline=None)
@given(
    domain=st.lists(st.integers(-50, 50), min_size=1, max_size=30, unique=True),
    vals=st.lists(st.integers(-60, 60), min_size=1, max_size=8),
)
def test_valid_bins_mask_in_is_union_of_equalities(domain, vals):
    from naru_spark.encoding import ColumnDictionary

    values = np.sort(np.array(domain, dtype=np.int64))
    d = ColumnDictionary("c", values, has_null=False)
    got = d.valid_bins_mask("in", vals)
    expect = np.zeros(len(values), dtype=bool)
    for v in vals:
        expect |= d.valid_bins_mask("=", v)
    assert (got == expect).all()


# --------------------------------------------------------- sampling step
_weight = st.one_of(st.just(0.0), st.floats(1e-3, 1.0))
_mask_entry = st.one_of(st.just(0.0), st.just(1.0), st.floats(1e-3, 1.0))


@settings(max_examples=200, deadline=None)
@given(
    dtype=st.sampled_from([np.float32, np.float64]),
    d=st.integers(1, 24),
    rows=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_sampling_step_fold_and_draw(dtype, d, rows, seed, data):
    """Over softmax-like weights (each row's largest weight 1) and
    fractional masks: a row with mass never draws a bin of zero masked
    weight; a vanished row gets path weight 0 and draws bin 0, silently;
    the path-weight factor is the masked share; the cumsum keeps ``w``'s
    dtype."""
    import warnings

    from naru_spark.model.made import draw, fold, sample_step

    w = np.array(data.draw(st.lists(st.lists(_weight, min_size=d, max_size=d), min_size=rows, max_size=rows)))
    w[np.arange(rows), data.draw(st.lists(st.integers(0, d - 1), min_size=rows, max_size=rows))] = 1.0
    mask = np.array(data.draw(st.lists(_mask_entry, min_size=d, max_size=d)))
    if (mask == 0).any():
        w = np.vstack([w, mask == 0])  # a row whose whole mass is masked out
    w = w.astype(dtype)
    masked = w * mask.astype(dtype)
    share = (w.astype(np.float64) * mask).sum(axis=1) / w.astype(np.float64).sum(axis=1)

    p = np.full(len(w), 0.5)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cum = fold(w.copy(), mask, p)
        got = draw(cum, np.random.RandomState(seed))
    assert cum.dtype == dtype
    assert ((got >= 0) & (got < d)).all()
    assert not np.isnan(p).any()
    np.testing.assert_allclose(p, 0.5 * share, rtol=1e-5)
    alive = masked.sum(axis=1) > 0
    assert (masked[alive, got[alive]] > 0).all()
    assert (p[~alive] == 0).all() and (got[~alive] == 0).all()
    again = sample_step(w.copy(), mask, np.full(len(w), 0.5), np.random.RandomState(seed))
    assert (again == got).all()

    p = np.full(len(w), 0.5)
    cum = fold(w.copy(), None, p)
    assert cum.dtype == dtype and (p == 0.5).all()  # unfiltered: p untouched


# ----------------------------------------------------- inclusion-exclusion
@settings(max_examples=150, deadline=None)
@given(
    branches=st.lists(
        st.lists(st.integers(0, 24), min_size=0, max_size=12).map(frozenset),
        min_size=1,
        max_size=3,
    )
)
def test_ie_terms_signed_sum_equals_union(branches):
    """On an explicit universe, the IE expansion's signed intersection
    cardinalities sum to the exact union cardinality — the identity every
    disjunctive estimator relies on. Branch predicates are modeled as
    membership in explicit sets; the merged AND term is set
    intersection."""
    from naru_spark.predicates import DisjunctiveQuery, Query, ie_terms

    # one fake single-column query per branch; the branch's set rides vals
    qs = [Query("t", ["c"], ["in"], [[0] + sorted(b)]) for b in branches]
    dq = DisjunctiveQuery("t", qs)

    def card(term: Query) -> int:
        # intersect every IN list the merged term carries
        sets = [frozenset(v) for v in term.vals]
        inter = frozenset.intersection(*sets)
        return len(inter)

    signed = sum(coef * card(t) for coef, t in ie_terms(dq))
    union = len(frozenset().union(*[frozenset(v) for q in qs for v in q.vals]))
    assert signed == union


# ------------------------------------------------------- interval union
@settings(max_examples=200, deadline=None)
@given(
    starts=st.lists(st.integers(0, 60), min_size=1, max_size=25),
    k=st.integers(1, 10),
)
def test_running_max_end_increment_is_union_length(starts, k):
    """The windowed increment used by ExactSubstr removal accounting —
    inc = max(0, pos + k - max(pos, prev_max_end)) over sorted starts —
    sums to the exact union length of the [pos, pos+k) intervals."""
    ss = sorted(starts)
    prev_max_end = 0
    total = 0
    for pos in ss:
        total += max(0, pos + k - max(pos, prev_max_end))
        prev_max_end = max(prev_max_end, pos + k)
    covered = set()
    for pos in ss:
        covered.update(range(pos, pos + k))
    assert total == len(covered)


# ----------------------------------------------------------------- BPE
@settings(max_examples=100, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=10), min_size=1, max_size=20
    ),
    num_merges=st.integers(0, 12),
)
def test_bpe_greedy_equals_rank_order_and_lossless(words, num_merges):
    """Greedy lowest-rank-first encoding (the distributed encoder's loop)
    equals applying merges in rank order to a fixpoint each, and both are
    lossless (concat of tokens == word)."""
    from naru_spark.pipeline.bpe import _merge_loop

    vocab: dict = {}
    for w in words:
        key = tuple(w)
        vocab[key] = vocab.get(key, 0) + 1
    merges = _merge_loop(dict(vocab), num_merges)
    ranks = {(l, r): i for i, l, r, _ in merges}

    def greedy(word):
        syms = list(word)
        while len(syms) > 1:
            best = None
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best is None or rk < best[0]):
                    best = (rk, i)
            if best is None:
                break
            i = best[1]
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return syms

    def rank_order(word):
        syms = list(word)
        for _, l, r, _ in merges:
            changed = True
            while changed:
                changed = False
                i = 0
                while i < len(syms) - 1:
                    if syms[i] == l and syms[i + 1] == r:
                        syms[i : i + 2] = [syms[i] + syms[i + 1]]
                        changed = True
                    else:
                        i += 1
        return syms

    for w in set(words):
        g = greedy(w)
        assert "".join(g) == w  # lossless
        assert g == rank_order(w)


# ------------------------------------------------------- fractional masks
@settings(max_examples=100, deadline=None)
@given(
    n_raw=st.integers(2, 40),
    max_domain=st.integers(2, 10),
    seed=st.integers(0, 10_000),
)
def test_fractional_mask_conserves_mass(n_raw, max_domain, seed):
    """For any set of raw bins (an ``in`` predicate selecting them),
    sum(mask * bin_counts) == number of raw bins selected — the
    mass-conservation property that makes binned selectivities unbiased."""
    from naru_spark.encoding import ColumnDictionary
    from naru_spark.model.binning import ModelBinning

    rng = np.random.RandomState(seed)
    values = np.arange(n_raw, dtype=np.int64)
    d = ColumnDictionary("c", values, has_null=False)
    b = ModelBinning(d, max_domain)
    raw_mask = rng.rand(n_raw) < 0.5
    frac = b.predicate_mask("in", list(values[raw_mask]))
    assert abs(float((frac * b.bin_counts).sum()) - raw_mask.sum()) < 1e-9
