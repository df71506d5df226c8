"""Model tests: autoregressive property (ports the reference's self-test,
made.py:710-753), gradient check, binning invariants, end-to-end q-error."""

import numpy as np
import pytest

from naru_spark.model.made import Adam, ResMADE
from naru_spark.model.binning import ModelBinning
from naru_spark.encoding import ColumnDictionary


# configs in the spirit of the reference's test matrix (made.py:713-725)
AR_CONFIGS = [
    dict(domains=[5, 3, 7, 4], hidden=16, blocks=1),
    dict(domains=[2, 2, 2], hidden=8, blocks=2),
    dict(domains=[10, 10], hidden=32, blocks=2),
    dict(domains=[4, 9, 2, 6, 3], hidden=24, blocks=3),
]


@pytest.mark.parametrize("encoding", ["binary", "one_hot", "embed"])
@pytest.mark.parametrize("cfg", AR_CONFIGS)
def test_autoregressive_property(cfg, encoding):
    """Logits of column i must not depend on inputs of columns >= i —
    for all three input encodings (reference made.py:595-612 dispatcher)."""
    rng = np.random.RandomState(0)
    m = ResMADE(seed=1, input_encoding=encoding, embed_size=8, **cfg)
    D = len(cfg["domains"])
    x = np.stack([rng.randint(0, d, size=4) for d in cfg["domains"]], axis=1)
    base = m.forward(x.copy(), grad=False)
    for j in range(D):
        for _ in range(3):
            x2 = x.copy()
            x2[:, j] = rng.randint(0, cfg["domains"][j], size=4)
            lg = m.forward(x2, grad=False)
            for i in range(j + 1):
                lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                assert np.allclose(lg[:, lo:hi], base[:, lo:hi]), (
                    f"col {i} logits depend on col {j} ({encoding})"
                )


@pytest.mark.parametrize("cfg", AR_CONFIGS[:2])
def test_transformer_autoregressive_property(cfg):
    """Port of the reference transformer self-test (transformer.py:601-651):
    column i's logits must not change when any column >= i's input changes
    (SOS right-shift means column 0 sees only the SOS token)."""
    from naru_spark.model.transformer import ARTransformer

    rng = np.random.RandomState(0)
    m = ARTransformer(cfg["domains"], d_model=16, d_ff=32, n_heads=2, blocks=2, seed=1)
    D = len(cfg["domains"])
    x = np.stack([rng.randint(0, d, size=4) for d in cfg["domains"]], axis=1)
    base = m.forward(x.copy(), grad=False)
    for j in range(D):
        for _ in range(3):
            x2 = x.copy()
            x2[:, j] = rng.randint(0, cfg["domains"][j], size=4)
            lg = m.forward(x2, grad=False)
            for i in range(j + 1):
                lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                assert np.allclose(lg[:, lo:hi], base[:, lo:hi], atol=1e-5), (
                    f"col {i} logits depend on col {j}"
                )


@pytest.mark.parametrize("order_kind", ["reversed", "random"])
@pytest.mark.parametrize("cfg", AR_CONFIGS[:2])
def test_transformer_order_respecting_ar_property(cfg, order_kind):
    """Port of the reference's multi-ordering transformer self-test
    (transformer.py:601-651): under ordering o, column i's logits must be
    invariant to the inputs of every column that does NOT strictly precede
    i in o (including i itself), and must generically depend on its
    predecessors."""
    from naru_spark.model.transformer import ARTransformer

    rng = np.random.RandomState(0)
    D = len(cfg["domains"])
    if order_kind == "reversed":
        order = list(reversed(range(D)))
    else:
        order = list(int(v) for v in np.random.RandomState(7).permutation(D))
    m = ARTransformer(
        cfg["domains"], d_model=16, d_ff=32, n_heads=2, blocks=2, seed=1, order=order
    )
    rank = {c: i for i, c in enumerate(order)}
    x = np.stack([rng.randint(0, d, size=4) for d in cfg["domains"]], axis=1)
    base = m.forward(x.copy(), grad=False)
    for j in range(D):
        for _ in range(3):
            x2 = x.copy()
            x2[:, j] = rng.randint(0, cfg["domains"][j], size=4)
            lg = m.forward(x2, grad=False)
            for i in range(D):
                lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                if rank[j] >= rank[i]:
                    assert np.allclose(lg[:, lo:hi], base[:, lo:hi], atol=1e-5), (
                        f"col {i} logits depend on non-predecessor col {j} (order {order})"
                    )
    # non-vacuous: the LAST column in the ordering must react to a change in
    # the FIRST column in the ordering (otherwise the mask over-blocks)
    first, last = order[0], order[-1]
    x2 = x.copy()
    x2[:, first] = (x2[:, first] + 1) % cfg["domains"][first]
    lg = m.forward(x2, grad=False)
    lo, hi = m.out_offsets[last], m.out_offsets[last + 1]
    assert not np.allclose(lg[:, lo:hi], base[:, lo:hi], atol=1e-7), (
        f"col {last} ignores its predecessor col {first} (order {order})"
    )


def test_transformer_scheme1_gradient_check():
    """Finite-difference check of the scheme-1 backward — exercises the
    residual-free first block, the positional-query path, and the
    order-respecting masks end to end."""
    from naru_spark.model.transformer import ARTransformer

    rng = np.random.RandomState(3)
    domains = [4, 3, 5]
    order = [2, 0, 1]
    m = ARTransformer(
        domains, d_model=8, d_ff=16, n_heads=2, blocks=2, seed=2,
        dtype=np.float64, order=order,
    )
    x = np.stack([rng.randint(0, d, size=6) for d in domains], axis=1)

    def loss():
        logits = m.forward(x)
        val, _ = m.nll(logits, x)
        return val

    logits = m.forward(x)
    _, dl = m.nll(logits, x)
    m.zero_grad()
    m.backward(dl)
    eps = 1e-6
    checked = 0
    params = [m.pos, m.sos, m.emb[0], m.blocks[0].attn.q.W, m.blocks[1].f1.W, m.heads[2].W]
    for p in params:
        flat_v = p.v.reshape(-1)
        flat_g = p.g.reshape(-1)
        for k in rng.choice(flat_v.size, size=min(4, flat_v.size), replace=False):
            old = flat_v[k]
            flat_v[k] = old + eps
            up = loss()
            flat_v[k] = old - eps
            dn = loss()
            flat_v[k] = old
            num = (up - dn) / (2 * eps)
            assert abs(num - flat_g[k]) < 1e-4 * max(1.0, abs(num)), (
                f"grad mismatch: analytic {flat_g[k]:.8f} vs numeric {num:.8f}"
            )
            checked += 1
    assert checked >= 20


@pytest.mark.parametrize("column_masking", [True, False])
@pytest.mark.parametrize("order", [None, [3, 0, 2, 1]])
def test_transformer_incremental_decode_parity(order, column_masking):
    """The KV-cache sampling path (sample_logits_for_col) must produce
    exactly the same logits as a full re-forward (hidden_nograd +
    logits_for_col) at every step of a progressive-sampling-shaped
    write/read sequence, including wildcard skips."""
    from naru_spark.model.transformer import ARTransformer

    rng = np.random.RandomState(5)
    domains = [6, 4, 5, 3]
    D = len(domains)
    sampling_order = order if order is not None else list(range(D))

    def build():
        return ARTransformer(
            domains, d_model=16, d_ff=32, n_heads=2, blocks=3, seed=9,
            column_masking=column_masking, order=order,
        )

    for trial in range(3):
        m_fast = build()
        m_full = build()
        S = 7
        m_fast.begin_sampling(S)
        m_full.begin_sampling(S)
        bits_fast = m_fast.new_input_buffer(S)
        bits_full = m_full.new_input_buffer(S)
        # random wildcard pattern (needs column_masking for skips)
        wild = rng.rand(D) < 0.4 if column_masking else np.zeros(D, dtype=bool)
        for c in sampling_order:
            if wild[c]:
                m_fast.write_mask_token(bits_fast, c)
                m_full.write_mask_token(bits_full, c)
                continue
            lg_fast = m_fast.sample_logits_for_col(c, bits_fast)
            h = m_full.hidden_nograd(bits_full)
            lg_full = m_full.logits_for_col(c, h)
            assert np.allclose(lg_fast, lg_full, atol=1e-4), (
                f"logits diverge at col {c} (order={order}, cm={column_masking}, "
                f"max diff {np.abs(lg_fast - lg_full).max()})"
            )
            vals = rng.randint(0, domains[c], size=S)
            m_fast._write_bits(bits_fast, c, vals)
            m_full._write_bits(bits_full, c, vals)


def test_transformer_learns_correlation():
    """Same convergence gate as ResMADE: a perfectly correlated pair must
    compress to ~single-column entropy."""
    from naru_spark.model.transformer import ARTransformer

    rng = np.random.RandomState(0)
    N = 4000
    a = rng.randint(0, 16, N)
    data = np.stack([a, a], axis=1).astype(np.int64)
    m = ARTransformer([16, 16], d_model=32, d_ff=64, n_heads=2, blocks=2, seed=0)
    opt = Adam(m, lr=5e-3, betas=(0.9, 0.98), eps=1e-9)
    bits = None
    for _ in range(8):
        perm = rng.permutation(N)
        tot, nb = 0.0, 0
        for lo in range(0, N, 512):
            b = data[perm[lo : lo + 512]]
            logits = m.forward(b)
            loss, dl = m.nll(logits, b)
            m.zero_grad()
            m.backward(dl)
            opt.step()
            tot += loss
            nb += 1
        bits = tot / nb / np.log(2)
    # uniform independent = 8 bits; perfect copy = 4 bits
    assert bits < 5.0, bits


def test_multiorder_ensemble_sane():
    """K models with different orderings; ensemble estimate within the range
    spanned by its members and exact on a deterministic table."""
    from naru_spark.estimators.progressive import MultiOrderEnsemble, ProgressiveSampling
    from naru_spark.meta import TableMeta
    from naru_spark.model.binning import ModelBinning
    from naru_spark.model.made import Adam
    from naru_spark.model.train import NaruModel
    from naru_spark.predicates import Query

    rng = np.random.RandomState(0)
    N = 3000
    a = rng.randint(0, 8, N)
    data = np.stack([a, (a + 1) % 8], axis=1).astype(np.int64)
    models = []
    for order in ([0, 1], [1, 0]):
        m = ResMADE([8, 8], hidden=24, blocks=2, seed=0, order=list(order))
        opt = Adam(m, lr=5e-3)
        for _ in range(6):
            perm = rng.permutation(N)
            for lo in range(0, N, 512):
                b = data[perm[lo : lo + 512]]
                logits = m.forward(b)
                _, dl = m.nll(logits, b)
                m.zero_grad()
                m.backward(dl)
                opt.step()
        dicts = {
            c: ColumnDictionary(c, np.arange(8, dtype=np.int64), has_null=False)
            for c in ("x", "y")
        }
        binn = {c: ModelBinning(dicts[c], 8) for c in ("x", "y")}
        meta = TableMeta("t", [], N)
        models.append(NaruModel(m, binn, meta, ["x", "y"]))
    q = Query("t", ["x"], ["="], [3])
    truth = int((a == 3).sum())
    ens = MultiOrderEnsemble(models, num_samples=512, seed=1)
    est = ens.query(q)
    assert truth / 1.6 <= est <= truth * 1.6, (est, truth)


@pytest.mark.parametrize("encoding", ["one_hot", "embed"])
def test_encoding_learns_correlation(encoding):
    """one_hot / embed input modes must train: a perfectly correlated pair
    compresses to ~single-column entropy (same gate as the binary mode)."""
    rng = np.random.RandomState(0)
    N = 4000
    a = rng.randint(0, 16, N)
    data = np.stack([a, a], axis=1).astype(np.int64)
    m = ResMADE([16, 16], hidden=32, blocks=2, seed=0, input_encoding=encoding, embed_size=8)
    opt = Adam(m, lr=5e-3)
    bits = None
    for _ in range(8):
        perm = rng.permutation(N)
        tot, nb = 0.0, 0
        for lo in range(0, N, 512):
            b = data[perm[lo : lo + 512]]
            logits = m.forward(b)
            loss, dl = m.nll(logits, b)
            m.zero_grad()
            m.backward(dl)
            opt.step()
            tot += loss
            nb += 1
        bits = tot / nb / np.log(2)
    # uniform independent = 8 bits; perfect copy = 4 bits
    assert bits < 5.0, (encoding, bits)


@pytest.mark.parametrize("encoding", ["binary", "one_hot", "embed"])
def test_gradient_check_all_encodings(encoding):
    rng = np.random.RandomState(3)
    m = ResMADE([4, 5, 3], hidden=12, blocks=1, seed=2, input_encoding=encoding, embed_size=4)
    xb = np.stack([rng.randint(0, d, size=6) for d in [4, 5, 3]], axis=1)
    logits = m.forward(xb)
    _, dl = m.nll(logits, xb)
    m.zero_grad()
    m.backward(dl)
    eps = 1e-6
    checked = 0
    for layer in m.layers():
        nz = np.argwhere(layer.M)
        for i, j in nz[:: max(1, len(nz) // 5)][:5]:
            orig = layer.W[i, j]
            layer.W[i, j] = orig + eps
            lp, _ = m.nll(m.forward(xb), xb)
            layer.W[i, j] = orig - eps
            lm, _ = m.nll(m.forward(xb), xb)
            layer.W[i, j] = orig
            num = (lp - lm) / (2 * eps)
            assert abs(num - layer.dW[i, j]) < 1e-5, (i, j, num, layer.dW[i, j])
            checked += 1
    assert checked >= 10


def test_lr_warmup_schedule_values():
    """Pin the Noam schedule against hand-computed reference values
    (train_model.py:153-167): lr = d^-0.5 * min(s^-0.5, s * t^-1.5)."""
    from naru_spark.model.train import lr_schedule

    d, t = 64, 100
    for s in (1, 10, 100, 1000):
        expect = (d**-0.5) * min(s**-0.5, s * (t**-1.5))
        assert abs(lr_schedule(s, d, warmups=t) - expect) < 1e-12
    # warmup region rises linearly, then decays as s^-0.5
    assert lr_schedule(50, d, warmups=t) < lr_schedule(100, d, warmups=t)
    assert lr_schedule(400, d, warmups=t) < lr_schedule(100, d, warmups=t)
    # constant_lr wins over everything
    assert lr_schedule(7, d, warmups=t, constant_lr=0.123) == 0.123
    # no warmups, no constant -> the reference's 1e-2 fallback
    assert lr_schedule(7, d) == 1e-2


def test_multi_order_nll_hand_computed():
    """2-order ensemble metric vs a by-hand logsumexp on per-row NLLs."""
    from naru_spark.model.train import multi_order_nll

    rng = np.random.RandomState(0)
    domains = [4, 3]
    m1 = ResMADE(domains, hidden=8, blocks=1, seed=1, order=[0, 1])
    m2 = ResMADE(domains, hidden=8, blocks=1, seed=2, order=[1, 0])
    x = np.stack([rng.randint(0, d, size=5) for d in domains], axis=1)
    got = multi_order_nll([m1, m2], x)
    nll1 = m1.nll_rows(m1.forward(x, grad=False), x)
    nll2 = m2.nll_rows(m2.forward(x, grad=False), x)
    expect = np.mean(
        [-(np.logaddexp(-a, -b) + np.log(0.5)) for a, b in zip(nll1, nll2)]
    )
    assert abs(got - expect) < 1e-10
    # per-row NLL must also be consistent with the mean NLL
    mean1, _ = m1.nll(m1.forward(x), x)
    assert abs(nll1.mean() - mean1) < 1e-9


def test_multi_order_nll_single_multimask_model():
    """orders= mode: one multi-mask model forwarded per ordering must give
    the same metric as manually cycling update_order."""
    from naru_spark.model.train import multi_order_nll

    rng = np.random.RandomState(1)
    domains = [4, 3, 5]
    m = ResMADE(domains, hidden=12, blocks=1, seed=3)
    x = np.stack([rng.randint(0, d, size=6) for d in domains], axis=1)
    orders = [[0, 1, 2], [2, 1, 0]]
    got = multi_order_nll([m], x, orders=orders)
    logps = []
    for o in orders:
        m.update_order(o)
        logps.append(-m.nll_rows(m.forward(x, grad=False), x))
    expect = np.mean(
        [-(np.logaddexp(a, b) + np.log(0.5)) for a, b in zip(*logps)]
    )
    assert abs(got - expect) < 1e-10


def test_gradient_check():
    rng = np.random.RandomState(3)
    m = ResMADE([4, 5, 3], hidden=12, blocks=1, seed=2)
    xb = np.stack([rng.randint(0, d, size=6) for d in [4, 5, 3]], axis=1)
    logits = m.forward(xb)
    _, dl = m.nll(logits, xb)
    m.zero_grad()
    m.backward(dl)
    eps = 1e-6
    checked = 0
    for layer in m.layers():
        nz = np.argwhere(layer.M if hasattr(layer, "M") else np.ones_like(layer.W))
        for i, j in nz[:: max(1, len(nz) // 5)][:5]:
            orig = layer.W[i, j]
            layer.W[i, j] = orig + eps
            lp, _ = m.nll(m.forward(xb), xb)
            layer.W[i, j] = orig - eps
            lm, _ = m.nll(m.forward(xb), xb)
            layer.W[i, j] = orig
            num = (lp - lm) / (2 * eps)
            assert abs(num - layer.dW[i, j]) < 1e-5, (i, j, num, layer.dW[i, j])
            checked += 1
    assert checked >= 10


def test_training_reaches_entropy():
    """NLL should approach the true joint entropy (reference's 'entropy
    gap' quality gate, train_model.py:232-238)."""
    rng = np.random.RandomState(0)
    N = 4000
    x0 = rng.randint(0, 8, N)
    x1 = (x0 + rng.binomial(1, 0.1, N)) % 8
    data = np.stack([x0, x1], axis=1)
    m = ResMADE([8, 8], hidden=64, blocks=2, seed=3)
    opt = Adam(m, lr=5e-3)
    loss = None
    for _ in range(25):
        perm = rng.permutation(N)
        for lo in range(0, N, 512):
            b = data[perm[lo : lo + 512]]
            logits = m.forward(b)
            loss, dl = m.nll(logits, b)
            m.zero_grad()
            m.backward(dl)
            opt.step()
    true_entropy_nats = (3 + 0.469) * np.log(2)  # H(x0)+H(x1|x0)
    assert loss < true_entropy_nats * 1.15


def test_binning_invariants():
    d = ColumnDictionary("c", np.arange(1000, dtype=np.int64), has_null=True)
    b = ModelBinning(d, max_domain=11)
    assert b.model_size == 11
    assert b.raw_to_model[0] == 0  # NULL alone in model bin 0
    assert (b.raw_to_model[1:] >= 1).all()
    assert b.bin_counts[0] == 1
    # fractional mask: <= 499 covers exactly half the values
    mask = b.predicate_mask("<=", 499)
    assert mask[0] == 0.0  # NULL never matches
    frac_total = (mask * b.bin_counts).sum() / 1000
    assert abs(frac_total - 0.5) < 1e-9
    # equality predicate hits exactly one value's fraction
    eq = b.predicate_mask("=", 123)
    assert abs((eq * b.bin_counts).sum() - 1.0) < 1e-9


def test_identity_binning_small_domain():
    d = ColumnDictionary("c", np.array(["a", "b", "c"], dtype=object), has_null=False)
    b = ModelBinning(d, max_domain=10)
    assert b.model_size == 3
    assert (b.raw_to_model == np.arange(3)).all()
    assert (b.predicate_mask("=", "b") == np.array([0.0, 1.0, 0.0])).all()


@pytest.mark.parametrize("max_domain", [1024, 4])
def test_in_is_union_of_equality_bins(max_domain):
    """``in`` matches a literal exactly when ``=`` does: no cast to the
    column dtype (``IN (2.5)`` on an int column matches nothing, as
    ``= 2.5`` does), and a repeated literal counts once."""
    d = ColumnDictionary("c", np.arange(10, dtype=np.int64), has_null=True)
    b = ModelBinning(d, max_domain)
    for vals, eq in (([2.5], 2.5), ([2, 2], 2), ([None], None), (["2"], "2")):
        assert d.valid_bins_mask("in", vals).tobytes() == d.valid_bins_mask("=", eq).tobytes()
        assert b.predicate_mask("in", vals).tobytes() == b.predicate_mask("=", eq).tobytes()
    assert not d.valid_bins_mask("in", [2.5]).any()
    assert (d.valid_bins_mask("in", [1, 7.0, 12]) == np.isin(np.arange(11), [2, 8])).all()
    raw = d.valid_bins_mask("in", [0, 3, 9])
    want = np.bincount(b.raw_to_model, weights=raw, minlength=b.model_size) / b.bin_counts
    assert b.predicate_mask("in", [9, 0, 3]).tobytes() == want.tobytes()


def test_column_masking_encoding():
    """MASK token: value bits zeroed, mask bit set; AR property intact."""
    m = ResMADE([5, 3, 7], hidden=16, blocks=1, seed=0, column_masking=True)
    x = np.array([[4, 2, 6]])
    obs = np.array([[True, False, True]])
    bits = m.encode_bits(x, obs)
    off, vb = m.bit_offsets[1], m.value_bits[1]
    assert (bits[0, off : off + vb] == 0).all()  # masked value bits zeroed
    assert bits[0, off + vb] == 1.0  # mask bit set
    off0, vb0 = m.bit_offsets[0], m.value_bits[0]
    assert bits[0, off0 + vb0] == 0.0  # observed column: mask bit clear
    # AR property with the extra bits
    base = m.forward(x.copy(), grad=False)
    x2 = x.copy()
    x2[0, 2] = 1
    lg = m.forward(x2, grad=False)
    # changing the LAST column's input must leave every head unchanged
    # (no head may see its own column or later ones)
    for i in range(3):
        lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
        assert np.allclose(lg[:, lo:hi], base[:, lo:hi])

def test_custom_ordering_ar_property():
    """AR invariant holds w.r.t. a non-natural ordering: head i may depend
    on column j only if j precedes i in the ordering."""
    rng = np.random.RandomState(0)
    domains = [5, 3, 7, 4]
    order = [2, 0, 3, 1]
    m = ResMADE(domains, hidden=32, blocks=2, seed=1, order=order)
    pos = {c: k for k, c in enumerate(order)}
    x = np.stack([rng.randint(0, d, 3) for d in domains], axis=1)
    base = m.forward(x.copy(), grad=False)
    for j in range(4):
        for _ in range(3):
            x2 = x.copy()
            x2[:, j] = rng.randint(0, domains[j], 3)
            lg = m.forward(x2, grad=False)
            for i in range(4):
                if pos[j] >= pos[i]:
                    lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                    assert np.allclose(lg[:, lo:hi], base[:, lo:hi]), (i, j)


def test_num_masks_connectivity_cycling():
    """resample_masks (reference num_masks, made.py:83,129,194): distinct
    connectivity masks at EQUAL order, AR invariant under every mask,
    deterministic restore, and a mask-ensemble NLL that is no worse than
    the mean single-mask NLL (Jensen) after training with cycling."""
    rng = np.random.RandomState(0)
    domains = [6, 5, 4]
    m = ResMADE(domains, hidden=24, blocks=2, seed=0)
    det_in = m.lin_in.M.copy()
    det_blk = m.blocks[0][0].M.copy()

    m.resample_masks(1)
    m1_in, m1_blk = m.lin_in.M.copy(), m.blocks[0][0].M.copy()
    m.resample_masks(2)
    m2_in, m2_blk = m.lin_in.M.copy(), m.blocks[0][0].M.copy()
    # distinct connectivity at equal (natural) order
    assert m.order == [0, 1, 2]
    assert not (np.array_equal(m1_in, m2_in) and np.array_equal(m1_blk, m2_blk))
    assert not (np.array_equal(m1_in, det_in) and np.array_equal(m1_blk, det_blk))

    # AR property holds under every sampled mask
    for seed in (1, 2, 3):
        m.resample_masks(seed)
        x = np.stack([rng.randint(0, d, 4) for d in domains], axis=1)
        base = m.forward(x.copy(), grad=False)
        for j in range(3):
            x2 = x.copy()
            x2[:, j] = rng.randint(0, domains[j], 4)
            lg = m.forward(x2, grad=False)
            for i in range(0, j + 1):
                lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                assert np.allclose(lg[:, lo:hi], base[:, lo:hi]), (seed, i, j)

    # None restores the deterministic ResMade pattern exactly
    m.resample_masks(None)
    assert np.array_equal(m.lin_in.M, det_in)
    assert np.array_equal(m.blocks[0][0].M, det_blk)

    # train WITH cycling (2 masks), then ensemble the masks at eval:
    # the logsumexp mixture over masks is no worse than the mean of the
    # per-mask NLLs (Jensen) and within log K of the best
    N = 3000
    a = rng.randint(0, 6, N)
    data = np.stack([a, (a + 1) % 5 % 5, a % 4], axis=1).astype(np.int64)
    mt = ResMADE(domains, hidden=24, blocks=2, seed=0)
    opt = Adam(mt, lr=5e-3)
    step = 0
    for _ in range(6):
        perm = rng.permutation(N)
        for lo in range(0, N, 512):
            mt.resample_masks(step % 2)
            step += 1
            b = data[perm[lo : lo + 512]]
            logits = mt.forward(b)
            _, dl = mt.nll(logits, b)
            mt.zero_grad()
            mt.backward(dl)
            opt.step()
    per_mask = []
    for seed in (0, 1):
        mt.resample_masks(seed)
        per_mask.append(mt.nll_rows(mt.forward(data, grad=False), data))
    lp = -np.stack(per_mask, axis=1)
    mx = lp.max(axis=1, keepdims=True)
    ens = float(np.mean(-(mx[:, 0] + np.log(np.exp(lp - mx).sum(axis=1)) + np.log(0.5))))
    means = [float(nr.mean()) for nr in per_mask]
    assert ens <= min(means) + np.log(2) + 1e-9
    assert ens <= np.mean(means) + 1e-9  # Jensen: mixture beats the average


@pytest.mark.parametrize("direct_io", [False, True])
def test_input_no_emb_if_leq(direct_io):
    """input_no_emb_if_leq (reference made.py:96,180): small-domain columns
    bypass the embedding (one-hot identity, zero params), big ones embed.
    Gates: param count drops; AR property holds across the mixed layout
    (incl. direct-io); gradient check through the bypass; a correlated
    pair still learns; update_order round-trips bit-identically."""
    rng = np.random.RandomState(0)
    domains = [5, 40, 3, 24]  # embed_size=8 -> cols 0,2 bypass; 1,3 embed
    kw = dict(hidden=24, blocks=1, seed=1, input_encoding="embed",
              embed_size=8, direct_io=direct_io)
    m = ResMADE(domains, **kw, input_no_emb_if_leq=True)
    full = ResMADE(domains, **kw)
    assert m.col_embeds == [False, True, False, True]
    assert m.num_params() < full.num_params()
    # the bypassed columns contribute no rows to the lookup table
    assert m.lin_emb.W.shape[0] == full.lin_emb.W.shape[0] - sum(
        m.col_bits[c] for c in (0, 2)
    )

    # AR property over the mixed layout
    x = np.stack([rng.randint(0, d, 4) for d in domains], axis=1)
    base = m.forward(x.copy(), grad=False)
    for j in range(4):
        for _ in range(3):
            x2 = x.copy()
            x2[:, j] = rng.randint(0, domains[j], 4)
            lg = m.forward(x2, grad=False)
            # natural order: head i reads only columns < i, so changing
            # column j must leave every head i <= j unchanged
            for i in range(0, j + 1):
                lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                assert np.allclose(lg[:, lo:hi], base[:, lo:hi]), (i, j)

    # gradient check (bypass routes grads correctly around lin_emb)
    xb = np.stack([rng.randint(0, d, 6) for d in domains], axis=1)
    logits = m.forward(xb)
    _, dl = m.nll(logits, xb)
    m.zero_grad()
    m.backward(dl)
    eps = 1e-6
    for layer in m.layers():
        nz = np.argwhere(layer.M)
        for i, j in nz[:: max(1, len(nz) // 4)][:4]:
            orig = layer.W[i, j]
            layer.W[i, j] = orig + eps
            lp, _ = m.nll(m.forward(xb), xb)
            layer.W[i, j] = orig - eps
            lm, _ = m.nll(m.forward(xb), xb)
            layer.W[i, j] = orig
            num = (lp - lm) / (2 * eps)
            assert abs(num - layer.dW[i, j]) < 1e-5, (num, layer.dW[i, j])

    # update_order round-trip is exact
    before = m.forward(x.copy(), grad=False)
    m.update_order([3, 1, 0, 2])
    m.update_order([0, 1, 2, 3])
    assert np.array_equal(before, m.forward(x.copy(), grad=False))

    # correlated pair (both columns small -> all-identity fast path) learns
    N = 4000
    a = rng.randint(0, 6, N)
    data = np.stack([a, a], axis=1).astype(np.int64)
    m2 = ResMADE([6, 6], hidden=24, blocks=2, seed=0, input_encoding="embed",
                 embed_size=8, input_no_emb_if_leq=True)
    assert m2.lin_emb is None  # every column bypasses
    opt = Adam(m2, lr=5e-3)
    bits = None
    for _ in range(8):
        perm = rng.permutation(N)
        tot, nb = 0.0, 0
        for lo in range(0, N, 512):
            b = data[perm[lo : lo + 512]]
            logits = m2.forward(b)
            loss, dl = m2.nll(logits, b)
            m2.zero_grad()
            m2.backward(dl)
            opt.step()
            tot += loss
            nb += 1
        bits = tot / nb / np.log(2)
    # independent uniform ~5.17 bits; perfect copy ~2.58
    assert bits < 3.6, bits


@pytest.mark.parametrize("direct_io", [False, True])
def test_tied_embed_decode_ar_gradient_and_training(direct_io):
    """output_encoding='embed' (reference made.py:645-674 tied decode):
    AR property, full-model gradient check including the weight-tying
    gradient into the embedding table, logits_for_col parity with the
    full forward, and convergence on a correlated pair."""
    rng = np.random.RandomState(0)
    domains = [5, 3, 7]
    m = ResMADE(domains, hidden=16, blocks=1, seed=1, input_encoding="embed",
                output_encoding="embed", embed_size=4, direct_io=direct_io)
    x = np.stack([rng.randint(0, d, size=4) for d in domains], axis=1)
    base = m.forward(x.copy(), grad=False)
    for j in range(3):
        x2 = x.copy()
        x2[:, j] = rng.randint(0, domains[j], size=4)
        lg = m.forward(x2, grad=False)
        for i in range(j + 1):
            lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
            assert np.allclose(lg[:, lo:hi], base[:, lo:hi]), (i, j)
    # gradient check across ALL layers (incl. lin_emb, which gets both
    # the input-path gradient and the tied decode gradient)
    logits = m.forward(x)
    _, dl = m.nll(logits, x)
    m.zero_grad()
    m.backward(dl)
    eps = 1e-6
    checked = 0
    for layer in m.layers():
        nz = np.argwhere(layer.M)
        for i, j in nz[:: max(1, len(nz) // 4)][:4]:
            orig = layer.W[i, j]
            layer.W[i, j] = orig + eps
            lp, _ = m.nll(m.forward(x), x)
            layer.W[i, j] = orig - eps
            lm, _ = m.nll(m.forward(x), x)
            layer.W[i, j] = orig
            assert abs((lp - lm) / (2 * eps) - layer.dW[i, j]) < 1e-5, (i, j)
            checked += 1
    assert checked >= 12
    # sampling slice parity
    full = m.forward(x, grad=False)
    h = m.hidden_nograd(m.encode_bits(x))
    for c in range(3):
        lo, hi = m.out_offsets[c], m.out_offsets[c + 1]
        assert np.allclose(m.logits_for_col(c, h), full[:, lo:hi])


def test_tied_embed_decode_learns_correlation():
    rng = np.random.RandomState(0)
    N = 4000
    a = rng.randint(0, 16, N)
    data = np.stack([a, a], axis=1).astype(np.int64)
    m = ResMADE([16, 16], hidden=32, blocks=2, seed=0, input_encoding="embed",
                output_encoding="embed", embed_size=8)
    opt = Adam(m, lr=5e-3)
    bits = None
    for _ in range(8):
        perm = rng.permutation(N)
        tot, nb = 0.0, 0
        for lo in range(0, N, 512):
            b = data[perm[lo : lo + 512]]
            logits = m.forward(b)
            loss, dl = m.nll(logits, b)
            m.zero_grad()
            m.backward(dl)
            opt.step()
            tot += loss
            nb += 1
        bits = tot / nb / np.log(2)
    assert bits < 5.0, bits


@pytest.mark.parametrize("encoding", ["binary", "embed"])
def test_direct_io_ar_and_gradient(encoding):
    """direct-IO skip connections (reference made.py:208-247): AR property
    must hold (strict input->output mask) and gradients must check."""
    rng = np.random.RandomState(0)
    domains = [5, 3, 7]
    m = ResMADE(domains, hidden=16, blocks=1, seed=1, direct_io=True,
                input_encoding=encoding, embed_size=4)
    x = np.stack([rng.randint(0, d, size=4) for d in domains], axis=1)
    base = m.forward(x.copy(), grad=False)
    for j in range(3):
        x2 = x.copy()
        x2[:, j] = rng.randint(0, domains[j], size=4)
        lg = m.forward(x2, grad=False)
        for i in range(j + 1):
            lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
            assert np.allclose(lg[:, lo:hi], base[:, lo:hi]), (i, j)
    # direct path must actually be wired (nonzero mask) and trained
    assert m.lin_direct is not None and m.lin_direct.M.sum() > 0
    logits = m.forward(x)
    _, dl = m.nll(logits, x)
    m.zero_grad()
    m.backward(dl)
    eps = 1e-6
    nz = np.argwhere(m.lin_direct.M)
    for i, j in nz[:: max(1, len(nz) // 4)][:4]:
        orig = m.lin_direct.W[i, j]
        m.lin_direct.W[i, j] = orig + eps
        lp, _ = m.nll(m.forward(x), x)
        m.lin_direct.W[i, j] = orig - eps
        lm, _ = m.nll(m.forward(x), x)
        m.lin_direct.W[i, j] = orig
        assert abs((lp - lm) / (2 * eps) - m.lin_direct.dW[i, j]) < 1e-5
    # sampling path (logits_for_col) must agree with the full forward
    full = m.forward(x, grad=False)
    bits = m.encode_bits(x)
    h = m.hidden_nograd(bits)
    for c in range(3):
        lo, hi = m.out_offsets[c], m.out_offsets[c + 1]
        assert np.allclose(m.logits_for_col(c, h), full[:, lo:hi])


def test_direct_io_update_order():
    """Order cycling rebuilds the direct mask too: round-trip restores
    bit-identical logits; AR holds w.r.t. the new order."""
    rng = np.random.RandomState(0)
    domains = [4, 6, 3]
    m = ResMADE(domains, hidden=16, blocks=1, seed=2, direct_io=True)
    x = np.stack([rng.randint(0, d, 3) for d in domains], axis=1)
    base = m.forward(x.copy(), grad=False)
    new_order = [2, 1, 0]
    m.update_order(new_order)
    pos = {c: k for k, c in enumerate(new_order)}
    for j in range(3):
        x2 = x.copy()
        x2[:, j] = rng.randint(0, domains[j], 3)
        lg = m.forward(x2, grad=False)
        ref = m.forward(x.copy(), grad=False)
        for i in range(3):
            if pos[j] >= pos[i]:
                lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                assert np.allclose(lg[:, lo:hi], ref[:, lo:hi]), (i, j)
    m.update_order([0, 1, 2])
    assert np.array_equal(m.forward(x.copy(), grad=False), base)


def test_update_order_exact_and_ar():
    """In-place order cycling (reference made.py:277-393): switching to a
    new ordering enforces the AR invariant w.r.t. THAT ordering, and
    cycling back restores bit-identical logits (mask rebuild is exact)."""
    rng = np.random.RandomState(0)
    domains = [5, 3, 7, 4]
    m = ResMADE(domains, hidden=32, blocks=2, seed=1)
    x = np.stack([rng.randint(0, d, 3) for d in domains], axis=1)
    base = m.forward(x.copy(), grad=False)

    new_order = [2, 0, 3, 1]
    m.update_order(new_order)
    pos = {c: k for k, c in enumerate(new_order)}
    ref = m.forward(x.copy(), grad=False)
    for j in range(4):
        for _ in range(3):
            x2 = x.copy()
            x2[:, j] = rng.randint(0, domains[j], 3)
            lg = m.forward(x2, grad=False)
            for i in range(4):
                if pos[j] >= pos[i]:
                    lo, hi = m.out_offsets[i], m.out_offsets[i + 1]
                    assert np.allclose(lg[:, lo:hi], ref[:, lo:hi]), (i, j)

    m.update_order([0, 1, 2, 3])
    back = m.forward(x.copy(), grad=False)
    assert np.array_equal(back, base)


def test_order_pin_survives_failing_query():
    """An order-pinned estimator whose query raises (``<`` NULL) leaves the
    shared multi-order model on its own ordering; the next query equals a
    fresh estimator's, pinned or not."""
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.meta import TableMeta
    from naru_spark.model.train import NaruModel
    from naru_spark.predicates import Query

    cols = ["a", "b", "c", "d"]
    dicts = {c: ColumnDictionary(c, np.arange(6, dtype=np.int64), has_null=True) for c in cols}
    binn = {c: ModelBinning(d, 4) for c, d in dicts.items()}
    made = ResMADE([binn[c].model_size for c in cols], hidden=16, blocks=1, seed=0)
    model = NaruModel(made, binn, TableMeta("t", [], 1000, dictionaries=dicts), cols)
    pin = [3, 1, 0, 2]
    pinned = ProgressiveSampling(model, num_samples=64, seed=1, order=pin)
    q = Query("t", ["a", "c"], ["<=", ">"], [3, 1])
    unpinned = ProgressiveSampling(model, num_samples=64, seed=1).query(q)
    assert pinned.query(q) != unpinned  # the pin changes the estimate

    with pytest.raises(TypeError):
        pinned.query(Query("t", ["a", "b"], ["<=", "<"], [3, None]))
    assert list(made.order) == [0, 1, 2, 3]
    assert pinned.query(q) == ProgressiveSampling(model, num_samples=64, seed=1, order=pin).query(q)
    assert ProgressiveSampling(model, num_samples=64, seed=1).query(q) == unpinned


@pytest.mark.parametrize("column_masking", [False, True])
def test_walk_ends_at_last_filtered_column(column_masking):
    """The walk forwards up to its last filtered column and no further. A
    non-masking model filtered only at order position 1 makes 2 forwards,
    not 4, and its selectivity equals a full walk whose trailing columns
    carry an always-true filter. A column-masking model makes one forward
    per filtered column. Estimates equal the threaded batch's, and
    ``query_weighted`` with unit weights equals ``query``."""
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.meta import TableMeta
    from naru_spark.model.train import NaruModel
    from naru_spark.predicates import Query

    cols = ["a", "b", "c", "d"]
    dicts = {c: ColumnDictionary(c, np.arange(6, dtype=np.int64), has_null=False) for c in cols}
    binn = {c: ModelBinning(d, 8) for c, d in dicts.items()}
    made = ResMADE([6] * 4, hidden=16, blocks=1, seed=0, order=[2, 0, 3, 1], column_masking=column_masking)
    model = NaruModel(made, binn, TableMeta("t", [], 1000, dictionaries=dicts), cols)
    calls = []
    forward = made.sample_logits_for_col
    made.sample_logits_for_col = lambda c, bits: calls.append(c) or forward(c, bits)
    ps = ProgressiveSampling(model, num_samples=64, seed=3)

    q = Query("t", ["a"], ["<="], [2])
    sel = ps._walk(q)
    assert calls == ([0] if column_masking else [2, 0])
    if not column_masking:
        full = Query("t", ["a", "d", "b"], ["<=", ">=", ">="], [2, 0, 0])
        assert ps._walk(full) == pytest.approx(sel, rel=1e-6)

    calls.clear()
    ps.query(Query("t", ["a", "d"], ["<=", ">"], [2, 1]))
    assert calls == ([0, 3] if column_masking else [2, 0, 3])

    calls.clear()
    weighted = ps.query_weighted(q, "b", np.ones(6))
    assert calls == ([0, 1] if column_masking else [2, 0, 3, 1])
    assert weighted == ps.query(q)

    qs = [Query("t", ["a", "c"], [">", "<"], [v, 5 - v]) for v in range(4)] * 2
    seq = [ps.query(x) for x in qs]
    assert ps.query_batch(qs, threads=4) == seq


def test_order_cycled_single_model_ensemble():
    """ONE multi-mask model cycling two orderings during training, then
    ensembled across its own orderings at query time — the 1x-training
    substitute for K separate per-order models."""
    from naru_spark.estimators.progressive import MultiOrderEnsemble
    from naru_spark.meta import TableMeta
    from naru_spark.model.train import NaruModel

    rng = np.random.RandomState(0)
    N = 3000
    a = rng.randint(0, 8, N)
    data = np.stack([a, (a + 1) % 8], axis=1).astype(np.int64)
    orders = [[0, 1], [1, 0]]
    m = ResMADE([8, 8], hidden=24, blocks=2, seed=0)
    opt = Adam(m, lr=5e-3)
    step = 0
    for _ in range(8):
        perm = rng.permutation(N)
        for lo in range(0, N, 512):
            m.update_order(orders[step % 2])
            step += 1
            b = data[perm[lo : lo + 512]]
            logits = m.forward(b)
            _, dl = m.nll(logits, b)
            m.zero_grad()
            m.backward(dl)
            opt.step()
    dicts = {
        c: ColumnDictionary(c, np.arange(8, dtype=np.int64), has_null=False)
        for c in ("x", "y")
    }
    binn = {c: ModelBinning(dicts[c], 8) for c in ("x", "y")}
    model = NaruModel(m, binn, TableMeta("t", [], N), ["x", "y"])

    from naru_spark.predicates import Query

    ens = MultiOrderEnsemble.from_single_model(model, orders, num_samples=512, seed=1)
    q = Query("t", ["x"], ["="], [3])
    truth = int((a == 3).sum())
    est = ens.query(q)
    assert truth / 1.8 <= est <= truth * 1.8, (est, truth)


def test_save_load_roundtrip(tmp_path):
    m = ResMADE([5, 6], hidden=16, blocks=1, seed=4)
    x = np.array([[1, 2], [3, 4]])
    before = m.forward(x, grad=False)
    p = str(tmp_path / "model.npz")
    m.save(p)
    m2 = ResMADE.load(p)
    after = m2.forward(x, grad=False)
    assert np.allclose(before, after)


def test_progressive_sampling_e2e(spark):
    """Train on sf0.001 lineitem; psample median q-error must beat a
    loose sanity bound and estimates must be >= 1."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators import Oracle, q_error
    from naru_spark.estimators.progressive import ProgressiveSampling, SampleFromModel
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from naru_spark.sources.registry import ESTIMATOR_COLUMNS
    from naru_spark.workload import generate_workload
    from tests.conftest import SF_SMOKE

    cols = ESTIMATOR_COLUMNS["lineitem"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols).cache()
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    model = NaruEstimator(
        cols, hidden=64, blocks=2, max_model_domain=256, epochs=8, lr=5e-3, seed=0
    ).fit(df, meta, enc)

    wl = generate_workload(SF_SMOKE, meta, "lineitem", 12, seed=1234)
    truths = Oracle(df).query_batch(wl)
    ps = ProgressiveSampling(model, num_samples=256, seed=7)
    ests = [ps.query(q) for q in wl]
    errs = [q_error(e, t) for e, t in zip(ests, truths) if t > 0]
    assert np.median(errs) <= 3.0
    assert all(e >= 1 for e in ests)

    sfm = SampleFromModel(model, num_samples=1000, seed=7)
    errs2 = [q_error(sfm.query(q), t) for q, t in zip(wl, truths) if t > 0]
    assert np.isfinite(errs2).all()

    # disjunctive surface (IN / OR-of-conjunctions): the SAME model answers
    # DisjunctiveQuery via inclusion-exclusion over conjunctive mask terms;
    # gate the q-error distribution against exact truth
    from naru_spark.workload import generate_disjunctive_workload

    dwl = generate_disjunctive_workload(SF_SMOKE, meta, "lineitem", 10, seed=5678)
    dtruths = Oracle(df).query_batch(dwl)
    dests = [ps.query(q) for q in dwl]
    derrs = [q_error(max(e, 1.0), t) for e, t in zip(dests, dtruths) if t > 0]
    assert len(derrs) >= 5  # the workload must hit real rows
    assert np.median(derrs) <= 5.0, derrs
    # IE must keep estimates in [0, cardinality] (signed sums could escape)
    assert all(0 <= e <= meta.cardinality for e in dests)
    # SampleFromModel shares the expansion
    derrs2 = [q_error(sfm.query(q), t) for q, t in zip(dwl, dtruths) if t > 0]
    assert np.isfinite(derrs2).all()
    df.unpersist()


def test_full_model_checkpoint_roundtrip(spark, tmp_path):
    """NaruModel.save/load restores ESTIMATION (not just weights): the
    reloaded bundle gives bit-identical progressive-sampling estimates;
    the checkpoint name round-trips through the reference regex."""
    import os

    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import (
        NaruEstimator,
        NaruModel,
        checkpoint_name,
        parse_checkpoint_name,
    )
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    model = NaruEstimator(cols, hidden=16, blocks=1, epochs=1, sample_rows=2000, seed=3).fit(
        df, meta, enc
    )

    name = checkpoint_name(model, "lineitem", data_bits=7.3)
    parsed = parse_checkpoint_name(name)
    assert parsed["dataset"] == "lineitem" and parsed["epochs"] == 1 and parsed["seed"] == 3
    assert parsed["arch"] == "made" and parsed["data_bits"] == 7.3

    path = os.path.join(tmp_path, name)
    model.save(path)
    back = NaruModel.load(path)
    queries = generate_workload(SF_SMOKE, meta, "lineitem", 5, seed=11)
    a = ProgressiveSampling(model, num_samples=64, seed=5).query_batch(queries)
    b = ProgressiveSampling(back, num_samples=64, seed=5).query_batch(queries)
    assert a == b


def test_checkpoint_name_order_suffix(spark):
    """Non-natural orderings get the reference's -order suffix
    (train_model.py:427-447) and parse back (eval_model.py:497-507); two
    differently-ordered checkpoints of the same arch must NOT collide."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.model.train import NaruEstimator, checkpoint_name, parse_checkpoint_name
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    kw = dict(hidden=16, blocks=1, epochs=1, sample_rows=1000, seed=3)
    natural = NaruEstimator(cols, **kw).fit(df, meta, enc)
    reversed_ = NaruEstimator(cols, order=[2, 1, 0], **kw).fit(df, meta, enc)

    n_nat = checkpoint_name(natural, "lineitem", data_bits=7.3)
    n_rev = checkpoint_name(reversed_, "lineitem", data_bits=7.3)
    assert n_nat != n_rev and n_rev.endswith("-order2_1_0.ckpt")
    assert parse_checkpoint_name(n_nat)["order"] is None
    assert parse_checkpoint_name(n_rev)["order"] == [2, 1, 0]


def test_pinned_query_restores_shared_model_order(spark):
    """An order-pinned ProgressiveSampling must leave the shared multi-mask
    model in the ordering it found it in (try/finally restore), so an
    unpinned estimator holding the same model is unaffected."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    orders = [[0, 1, 2], [2, 1, 0]]
    model = NaruEstimator(
        cols, hidden=16, blocks=1, epochs=1, sample_rows=1000, seed=3, order_cycle=orders
    ).fit(df, meta, enc)
    wl = generate_workload(SF_SMOKE, meta, "lineitem", 3, seed=11)

    plain = ProgressiveSampling(model, num_samples=64, seed=5)
    baseline = plain.query_batch(wl)
    before = list(model.made.order)
    pinned = ProgressiveSampling(model, num_samples=64, seed=5, order=[2, 1, 0])
    pinned.query_batch(wl)
    assert list(model.made.order) == before
    # the unpinned estimator's results are unchanged after pinned queries
    assert plain.query_batch(wl) == baseline


def test_estimate_batch_distributed_matches_driver(spark):
    """The mapInPandas batch path (forced via min_distribute=0) returns
    exactly the driver-side estimates — query() reseeds per query, so the
    split across executors cannot change any estimate."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    model = NaruEstimator(cols, hidden=16, blocks=1, epochs=1, sample_rows=2000, seed=3).fit(
        df, meta, enc
    )
    wl = generate_workload(SF_SMOKE, meta, "lineitem", 6, seed=11)
    ps = ProgressiveSampling(model, num_samples=64, seed=5)
    driver = [float(ps.query(q)) for q in wl]
    dist = ps.estimate_batch(spark, wl, min_distribute=0)
    assert dist == driver


def test_query_batch_threaded_matches_sequential(spark):
    """The threaded query_batch (shallow model clones per worker thread,
    weights shared read-only) must return BIT-IDENTICAL estimates to the
    sequential loop — each query seeds its own RandomState — and must
    fall back to sequential for order-pinned estimators (update_order
    mutates shared masks)."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    model = NaruEstimator(cols, hidden=16, blocks=1, epochs=1, sample_rows=2000, seed=3).fit(
        df, meta, enc
    )
    wl = list(generate_workload(SF_SMOKE, meta, "lineitem", 12, seed=11))
    ps = ProgressiveSampling(model, num_samples=64, seed=5)
    seq = [float(ps.query(q)) for q in wl]
    assert ps.query_batch(wl, threads=4) == seq
    assert getattr(model.made, "sampling_stateless", False)
    # order-pinned: must take the sequential path (and stay correct)
    pinned = ProgressiveSampling(model, num_samples=64, seed=5, order=[2, 1, 0])
    pseq = [float(pinned.query(q)) for q in wl]
    assert pinned.query_batch(wl, threads=4) == pseq


def test_load_checkpoints_glob(spark, tmp_path):
    """E2 parity: save two differently-seeded checkpoints, glob them back,
    metadata parsed from the names."""
    import os

    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.evaluate import load_checkpoints
    from naru_spark.model.train import NaruEstimator, checkpoint_name
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    for seed in (1, 2):
        m = NaruEstimator(cols, hidden=8, blocks=1, epochs=1, sample_rows=500, seed=seed).fit(
            df, meta, enc
        )
        m.save(os.path.join(tmp_path, checkpoint_name(m, "lineitem")))
    loaded = load_checkpoints(os.path.join(tmp_path, "lineitem-*.ckpt"))
    assert len(loaded) == 2
    assert sorted(i["seed"] for i, _ in loaded) == [1, 2]
    assert all(m.columns == cols for _, m in loaded)
    # --blacklist analog (reference eval_model.py:42,481): substring drop
    only = load_checkpoints(os.path.join(tmp_path, "lineitem-*.ckpt"), blacklist="seed1")
    assert [i["seed"] for i, _ in only] == [2]


def test_fit_distributed_learns_and_estimates(spark):
    """Data-parallel fit (partition-local SGD + weighted averaging): on
    sf0.001 lineitem the averaged model must drive ProgressiveSampling to
    sane estimates (median q-error within a loose bound) — no row ever
    leaves its partition."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators import Oracle, q_error
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols).repartition(4).cache()
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    model = NaruEstimator(cols, hidden=32, blocks=2, epochs=3, lr=7e-3, seed=0).fit_distributed(
        df, meta, enc, rounds=2
    )
    assert model.fit_info["distributed_rounds"] == 2

    wl = generate_workload(SF_SMOKE, meta, "lineitem", 10, seed=21)
    truths = Oracle(df).query_batch(wl)
    ps = ProgressiveSampling(model, num_samples=256, seed=7)
    errs = [q_error(ps.query(q), t) for q, t in zip(wl, truths) if t > 0]
    assert np.median(errs) <= 4.0, errs
    df.unpersist()


def test_psample_join_multi_table(spark):
    """NeuroCard-style multi-table surface: a ResMADE fitted over the
    lineitem x orders JOIN answers conjunctions mixing both tables'
    columns — median q-error within a tight bound against exact truth
    computed on the join. The join is fanout-free (1:1 from the lineitem
    side), so the model learns the true joint distribution directly."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators import Oracle, q_error
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload_from_pdf, pdf_table_meta
    from tests.conftest import SF_SMOKE

    cols = [
        "l_returnflag", "l_linestatus", "l_quantity", "l_discount",
        "o_orderpriority", "o_orderstatus",
    ]
    li = load_table(spark, "lineitem", SF_SMOKE).select(
        "l_orderkey", *[c for c in cols if c.startswith("l_")]
    )
    orders = load_table(spark, "orders", SF_SMOKE).select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(*cols).cache()
    assert joined.count() == li.count()  # fanout-free: 1:1 on the fact side

    enc = DictionaryEncoder(cols).fit(joined)
    meta = enc.table_meta(joined, "li_orders")
    model = NaruEstimator(
        cols, hidden=48, blocks=2, max_model_domain=128, epochs=4, lr=7e-3, seed=0
    ).fit(joined, meta, enc)

    pdf = joined.toPandas()
    wl = generate_workload_from_pdf(
        pdf, pdf_table_meta(pdf, "li_orders"), "li_orders", 12, seed=99
    )
    truths = Oracle(joined).query_batch(wl)
    ps = ProgressiveSampling(model, num_samples=256, seed=7)
    errs = [
        q_error(max(ps.query(q), 1.0), t) for q, t in zip(wl, truths) if t > 0
    ]
    assert len(errs) >= 6
    assert np.median(errs) <= 3.0, errs
    joined.unpersist()


def test_psample_fanout_downscaling(spark):
    """NeuroCard inverse-fanout downscaling: the model trained on the 1:N
    customer x orders JOIN answers CUSTOMER-table cardinalities via
    E[1/fanout * 1{pred}] * |join|. Two gates: the no-predicate identity
    (estimate ~= |customer|, which the join model never saw as a row
    count) and the q-error distribution on customer-only predicates."""
    from naru_spark.entry_model import _fitted_fanout
    from naru_spark.estimators import Oracle, q_error
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.predicates import Query
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload_from_pdf, pdf_table_meta
    from tests.conftest import SF_SMOKE

    joined, enc, meta, model, w_vec = _fitted_fanout(spark, SF_SMOKE)
    cust = load_table(spark, "customer", SF_SMOKE).select(
        "c_mktsegment", "c_nationkey"
    )
    n_cust = cust.count()
    ps = ProgressiveSampling(model, num_samples=512, seed=7)

    # identity: sum over join of 1/fanout == |customer| exactly; the model
    # estimate of that expectation must land within a loose band (at the
    # 1.5k-row smoke SF the 3-epoch model's fanout marginal is coarse —
    # the sf0.01 entry measures median q-error 1.03 on real predicates)
    est_total = ps.query_weighted(
        Query("cust_orders", [], [], []), "fanout", w_vec
    )
    assert abs(est_total - n_cust) / n_cust < 0.35, (est_total, n_cust)
    # and the EXACT identity holds on the data itself (the estimator's
    # target is well-defined): sum over the join of 1/fanout == |customer|
    import pyspark.sql.functions as FF

    exact = joined.agg(FF.sum(1.0 / FF.col("fanout"))).collect()[0][0]
    assert abs(exact - n_cust) < 1e-6

    pdf = cust.toPandas()
    wl = generate_workload_from_pdf(
        pdf, pdf_table_meta(pdf, "customer"), "customer", 12, seed=4242
    )
    truths = Oracle(cust).query_batch(wl)
    errs = [
        q_error(max(ps.query_weighted(q, "fanout", w_vec), 1.0), t)
        for q, t in zip(wl, truths)
        if t > 0
    ]
    assert len(errs) >= 6
    assert np.median(errs) <= 2.0, errs


def test_fit_distributed_cycles_masks(spark):
    """num_masks>1 must NOT silently no-op on the distributed path: shards
    resample connectivity per round (same seed across shards, so the
    weighted average stays mask-consistent), and the resulting weights
    differ from a num_masks=1 run with otherwise identical config."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    # >=3 columns: with D=2 every hidden degree is 1 and resampling is a
    # structural no-op, so the cycling would be invisible
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols).limit(2000).repartition(2).cache()
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")

    def weights(num_masks):
        est = NaruEstimator(
            cols, hidden=16, blocks=1, epochs=1, lr=5e-3, seed=0, num_masks=num_masks
        )
        model = est.fit_distributed(df, meta, enc, rounds=2)
        return np.concatenate([l.W.ravel() for l in model.made.layers()])

    assert not np.allclose(weights(1), weights(2))
    # shards train with a constant lr under one ordering: a model configured
    # otherwise must be refused, not silently trained differently
    for kw in ({"warmups": 10}, {"order_cycle": [[0, 1, 2], [2, 1, 0]]}):
        with pytest.raises(ValueError, match="warmups/order_cycle"):
            NaruEstimator(cols, hidden=16, blocks=1, epochs=1, seed=0, **kw).fit_distributed(
                df, meta, enc
            )
    df.unpersist()


def test_fit_rejects_empty_input(spark):
    """Both fit paths must refuse a zero-row input instead of returning an
    untrained model (fit used to report model_bits = nan)."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols).limit(500)
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    empty = df.filter("false")
    est = NaruEstimator(cols, hidden=16, blocks=1, epochs=1, seed=0)
    with pytest.raises(ValueError, match="empty"):
        est.fit(empty, meta, enc)
    with pytest.raises(ValueError, match="empty"):
        est.fit_distributed(empty, meta, enc, rounds=1)


def test_fit_distributed_transformer(spark):
    """The arch-agnostic data-parallel path applied to the transformer:
    partition-local SGD + row-weighted averaging of the flat Param list.
    The averaged model must drive ProgressiveSampling to sane estimates
    (loose q-error bound; no row leaves its partition)."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators import Oracle, q_error
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from naru_spark.workload import generate_workload
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols).repartition(4).cache()
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    model = NaruEstimator(
        cols, arch="transformer", hidden=16, blocks=1, epochs=2, lr=5e-3, seed=0
    ).fit_distributed(df, meta, enc, rounds=2)
    assert model.fit_info["distributed_rounds"] == 2
    assert model.fit_info["arch"] == "transformer"

    wl = generate_workload(SF_SMOKE, meta, "lineitem", 10, seed=21)
    truths = Oracle(df).query_batch(wl)
    ps = ProgressiveSampling(model, num_samples=128, seed=7)
    errs = [q_error(ps.query(q), t) for q, t in zip(wl, truths) if t > 0]
    assert len(errs) >= 6
    assert np.median(errs) <= 5.0, errs
    # num_masks and the input/output options are MADE concepts — the
    # constructor refuses them, so no fit path can silently ignore them
    for kw in (
        {"num_masks": 2},
        {"order_cycle": [[0, 1, 2], [2, 1, 0]]},
        {"input_encoding": "one_hot"},
        {"output_encoding": "embed"},
        {"direct_io": True},
        {"input_no_emb_if_leq": True},
    ):
        with pytest.raises(AssertionError, match="ResMADE only"):
            NaruEstimator(cols, arch="transformer", hidden=16, blocks=1, epochs=1, seed=0, **kw)
    df.unpersist()


def test_fit_distributed_returns_last_round_mask(spark):
    """With num_masks>1 the returned driver model must carry the LAST
    round's trained connectivity mask — not the construction-time
    deterministic mask, which the averaged weights were never trained
    under (ADVICE round 5). The single-node fit() likewise ends on its
    last trained mask."""
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.model.made import ResMADE
    from naru_spark.model.train import NaruEstimator
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    df = load_table(spark, "lineitem", SF_SMOKE, cols).limit(1000).repartition(2).cache()
    enc = DictionaryEncoder(cols).fit(df)
    meta = enc.table_meta(df, "lineitem")
    seed, rounds, num_masks = 0, 2, 2
    est = NaruEstimator(
        cols, hidden=16, blocks=1, epochs=1, lr=5e-3, seed=seed, num_masks=num_masks
    )
    model = est.fit_distributed(df, meta, enc, rounds=rounds)

    # expected end-state degree vector: the mask the LAST round trained under
    twin = ResMADE(
        [b.model_size for b in model.binnings.values()],
        hidden=16, blocks=1, seed=seed, dtype=np.float32,
    )
    twin.resample_masks(seed + ((rounds - 1) % num_masks))
    assert np.array_equal(model.made.hid_deg, twin.hid_deg)
    # and it must differ from the construction-time deterministic masks
    fresh = ResMADE(
        [b.model_size for b in model.binnings.values()],
        hidden=16, blocks=1, seed=seed, dtype=np.float32,
    )
    assert not np.array_equal(model.made.hid_deg, fresh.hid_deg)
    df.unpersist()


def test_transformer_relu_activation_gradient_and_decode_parity():
    """The reference restricts transformer activation to {'relu','gelu'}
    (transformer.py:326-327); check the relu backward against finite
    differences and the incremental-decode fast path against the full
    forward."""
    from naru_spark.model.transformer import ARTransformer

    rng = np.random.RandomState(5)
    domains = [4, 3, 5]
    m = ARTransformer(
        domains, d_model=8, d_ff=16, n_heads=2, blocks=2, seed=2,
        dtype=np.float64, activation="relu",
    )
    assert all(b.activation == "relu" for b in m.blocks)
    x = np.stack([rng.randint(0, d, size=6) for d in domains], axis=1)

    def loss():
        logits = m.forward(x)
        val, _ = m.nll(logits, x)
        return val

    logits = m.forward(x)
    _, dl = m.nll(logits, x)
    m.zero_grad()
    m.backward(dl)
    eps = 1e-6
    checked = 0
    for p in [m.sos, m.blocks[0].f1.W, m.blocks[1].f2.W, m.heads[1].W]:
        flat_v = p.v.reshape(-1)
        flat_g = p.g.reshape(-1)
        for k in rng.choice(flat_v.size, size=4, replace=False):
            old = flat_v[k]
            flat_v[k] = old + eps
            up = loss()
            flat_v[k] = old - eps
            dn = loss()
            flat_v[k] = old
            num = (up - dn) / (2 * eps)
            # relu is non-differentiable at 0; with random float64 weights
            # the sampled points are a.s. away from the kink
            assert abs(num - flat_g[k]) < 1e-4 * max(1.0, abs(num))
            checked += 1
    assert checked >= 16

    # incremental decode (sample_logits_for_col) must use the same
    # activation as the full forward
    S = 4
    m.begin_sampling(S)
    bits = m.new_input_buffer(S)
    for c in range(len(domains)):
        fast = m.sample_logits_for_col(c, bits)
        want = m.logits_for_col(c, m.hidden_nograd(bits))
        np.testing.assert_allclose(fast, want, rtol=1e-6, atol=1e-8)
        m._write_bits(bits, c, rng.randint(0, domains[c], size=S))


def test_multi_mask_nll_ensemble_and_restore():
    """multi_mask_nll: the num_masks ensemble respects the mixture bounds
    (min member <= ensemble <= min member + log K; ensemble <= mean by
    Jensen) and leaves the model's masks exactly as it found them."""
    from naru_spark.model.train import model_nll_rows, multi_mask_nll

    rng = np.random.RandomState(0)
    domains = [6, 5, 4]
    N = 2000
    a = rng.randint(0, 6, N)
    data = np.stack([a, a % 5, a % 4], axis=1).astype(np.int64)
    m = ResMADE(domains, hidden=24, blocks=2, seed=0)
    opt = Adam(m, lr=5e-3)
    step = 0
    for _ in range(4):
        perm = rng.permutation(N)
        for lo in range(0, N, 512):
            m.resample_masks(step % 2)
            step += 1
            b = data[perm[lo : lo + 512]]
            logits = m.forward(b)
            _, dl = m.nll(logits, b)
            m.zero_grad()
            m.backward(dl)
            opt.step()
    # pin a non-default mask state, remember logits
    m.resample_masks(1)
    before = m.forward(data[:64].copy(), grad=False)

    members = []
    for seed in (0, 1):
        m.resample_masks(seed)
        members.append(float(model_nll_rows(m, data).mean()))
    m.resample_masks(1)  # back to the state we want restored

    ens = multi_mask_nll(m, data, mask_seeds=[0, 1])
    assert min(members) - 1e-9 <= ens <= min(members) + np.log(2) + 1e-9
    assert ens <= float(np.mean(members)) + 1e-9

    # restore: bit-identical logits under the pre-call mask state
    after = m.forward(data[:64].copy(), grad=False)
    assert np.array_equal(before, after)


def test_psample_events_second_table(spark):
    """The estimator stack generalizes to the events table (strings +
    high-card ints + continuous floats): statistically gated like the
    lineitem path."""
    from naru_spark.entry_model import q_psample_events
    from tests.conftest import SF_T2

    rows = q_psample_events(spark, SF_T2).collect()
    errs = [r["q_err"] for r in rows if r["q_err"] is not None]
    assert len(errs) >= 5
    assert float(np.median(errs)) < 3.0, errs
    assert max(errs) < 100.0, errs


def test_model_drift_report_shows_covariate_shift(spark):
    """Data-shift experiment: a model fit on the pre-cutoff (shipdate-
    ordered) half, size-corrected, must degrade RELATIVE to the fresh
    full-table fit — the stale model has never seen post-cutoff shipdate
    values — while the fresh model stays calibrated."""
    from naru_spark.entry_model import q_model_drift_report
    from tests.conftest import SF_T2

    rows = {r["model"]: r for r in q_model_drift_report(spark, SF_T2).collect()}
    fresh, stale = rows["fresh_full"], rows["stale_half"]
    assert fresh["median_qerr"] <= 3.0
    assert stale["median_qerr"] >= fresh["median_qerr"]
    assert stale["max_qerr"] > fresh["max_qerr"]  # the post-cutoff tail


def test_model_refresh_warm_start_cures_drift(spark):
    """Warm-started refresh: one epoch over current data starting from the
    stale model's weights must cure the drift tail (median and max both
    collapse toward the fresh fit) and land within 1.5x of a cold fit
    with the identical budget."""
    from naru_spark.entry_model import q_model_refresh_report
    from tests.conftest import SF_T2

    rows = {r["model"]: r for r in q_model_refresh_report(spark, SF_T2).collect()}
    stale, warm, cold = rows["stale"], rows["warm_refresh_1ep"], rows["cold_1ep"]
    assert warm["median_qerr"] <= stale["median_qerr"]
    assert warm["max_qerr"] < stale["max_qerr"] / 2  # the drift tail is cured
    assert warm["median_qerr"] <= cold["median_qerr"] * 1.5


def test_psample_star3_calibrated(spark):
    """The 3-table star model (lineitem x orders x customer, fanout-free
    chain) must drive ProgressiveSampling to calibrated estimates on the
    mixed-table workload."""
    import numpy as np

    from naru_spark.entry_model import q_psample_star3
    from tests.conftest import SF_T2

    rows = q_psample_star3(spark, SF_T2).collect()
    errs = [r["q_err"] for r in rows if r["q_err"] is not None]
    assert len(errs) >= 20
    assert np.median(errs) <= 2.0, np.median(errs)
    assert all(np.isfinite(e) for e in errs)


def test_psample_star4_calibrated_both_grains(spark):
    """The 4-table star model (lineitem x orders x customer x supplier,
    all N:1 edges from the lineitem side) must drive ProgressiveSampling
    to calibrated estimates at JOIN grain, and — the NeuroCard capstone —
    answer ORDER-GRAIN questions through exact inverse-fanout downscaling
    (query_weighted over the unbinned per-order fanout), landing within a
    calibrated band against counts on the orders x customer view the
    model never trained on at that grain."""
    import numpy as np

    from naru_spark.entry_model import q_psample_star4
    from tests.conftest import SF_T2

    rows = q_psample_star4(spark, SF_T2).collect()
    join_errs = [r["q_err"] for r in rows if r["grain"] == "join" and r["q_err"] is not None]
    order_errs = [r["q_err"] for r in rows if r["grain"] == "order" and r["q_err"] is not None]
    assert len(join_errs) >= 20 and len(order_errs) >= 10
    assert np.median(join_errs) <= 2.0, np.median(join_errs)
    assert np.median(order_errs) <= 2.0, np.median(order_errs)
    assert all(np.isfinite(e) for e in join_errs + order_errs)


def test_psample_star5_calibrated(spark):
    """The 5-table star model (star4 + the part dimension — one more N:1
    fanout-free chain from lineitem) must drive ProgressiveSampling to
    calibrated estimates on the mixed 5-table workload, at the star4
    band (VERDICT r14 item 7: median <= 1.15)."""
    import numpy as np

    from naru_spark.entry_model import q_psample_star5
    from tests.conftest import SF_T2

    rows = q_psample_star5(spark, SF_T2).collect()
    errs = [r["q_err"] for r in rows if r["q_err"] is not None]
    assert len(errs) >= 20
    assert np.median(errs) <= 1.15, np.median(errs)
    assert all(np.isfinite(e) for e in errs)
