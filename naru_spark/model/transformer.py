"""Decoder-only autoregressive Transformer density model — pure numpy.

Re-expression of the reference's Transformer (transformer.py:267-598 in
/root/reference): per-column value embeddings with SOS right-shift input
(EncodeInput, transformer.py:410-493), pre-LayerNorm blocks of causal
multi-head self-attention + GeLU MLP (Block, transformer.py:221-264), final
LayerNorm, and per-column output heads (transformer.py:587-598). The
natural-order causal mask (transformer.py:48-55) gives the autoregressive
property: the head of column i reads sequence position i, which attends
only to positions <= i, i.e. SOS + columns < i.

Forward AND backward are hand-rolled numpy (no torch in this environment);
matrices are small (d_model 64, seq = #columns) so BLAS keeps training at
test scale in minutes. GeLU uses the tanh approximation
(transformer.py:211-218) so its derivative is closed-form.
"""

from __future__ import annotations

import numpy as np

_SQRT_2_OVER_PI = np.sqrt(2.0 / np.pi)


def gelu(x):
    # tanh approximation (reference transformer.py:211-218), written with
    # in-place ops and x*x*x instead of np.power — measured 38x faster on
    # the [S, T, d_ff] inference batches (np.power + temporaries dominated
    # the whole sampling path before)
    inner = x * x
    inner *= x
    inner *= 0.044715
    inner += x
    inner *= _SQRT_2_OVER_PI
    np.tanh(inner, out=inner)
    inner += 1.0
    inner *= x
    inner *= 0.5
    return inner


def gelu_grad(x):
    # same expression as the straightforward form, restructured onto four
    # reused buffers: at [S, T, d_ff] training shapes the ~11 fresh
    # temporaries of the naive form cost more (first-touch page faults)
    # than the arithmetic. Every reordering below is a commutative swap,
    # so outputs are bit-identical.
    x2 = x * x
    inner = x2 * x
    inner *= 0.044715
    inner += x
    inner *= _SQRT_2_OVER_PI
    np.tanh(inner, out=inner)  # t
    x2 *= 3 * 0.044715  # dinner, reusing the x^2 buffer
    x2 += 1.0
    x2 *= _SQRT_2_OVER_PI
    out = x * 0.5
    t2 = inner * inner
    np.subtract(1.0, t2, out=t2)
    out *= t2  # (0.5*x) * (1 - t*t)
    out *= x2  # ... * dinner
    inner += 1.0
    inner *= 0.5  # 0.5 * (1 + t)
    out += inner
    return out


def relu(x):
    return np.maximum(x, 0)


def relu_grad(x):
    return (x > 0).astype(x.dtype)


# reference transformer.py:234-240, 326-327: activation is a block option
# restricted to {'relu', 'gelu'}
_ACTIVATIONS = {"gelu": (gelu, gelu_grad), "relu": (relu, relu_grad)}


def order_respecting_mask(ncols: int, ordering, input_layer: bool = True) -> np.ndarray:
    """Attention mask for an arbitrary autoregressive ordering (reference
    transformer.py:58-102 ``order_respecting_mask``).

    Layout (the reference's mask scheme 1): the input sequence is
    ``[SOS, x_0, x_1, ..., x_{ncols-1}]`` — every column embedded at its
    NATURAL position ``c+1`` — and the hidden state at position ``c``
    (c < ncols) is trained to be ``h(x_c | predecessors of c in the
    ordering)``; position ``ncols`` is an unused EOS slot.

    Returns a boolean [ncols+1, ncols+1] "may attend" matrix, row =
    destination position:

    - ``input_layer=True`` (first attention only): destination ``c`` may
      read SOS plus the raw inputs of columns that strictly precede ``c``
      in the ordering (input of ``x_j`` sits at position ``j+1``).
    - ``input_layer=False`` (all later attentions): source position ``j``
      now holds ``h(x_j | ...)``, so destination ``c`` may read the hidden
      of any ``j`` that precedes-OR-EQUALS ``c`` (diagonal = see self).
    """
    ordering = list(ordering)
    assert sorted(ordering) == list(range(ncols)), ordering
    rank = np.empty(ncols, dtype=np.int64)
    rank[ordering] = np.arange(ncols)
    allowed = np.zeros((ncols + 1, ncols + 1), dtype=bool)
    if input_layer:
        allowed[:ncols, 0] = True  # SOS visible to every real destination
        # input of x_j at position j+1: visible iff j precedes c in ordering
        allowed[:ncols, 1:] = rank[None, :] < rank[:, None]
    else:
        allowed[:ncols, :ncols] = rank[None, :] <= rank[:, None]
    return allowed


class Param:
    __slots__ = ("v", "g")

    def __init__(self, v: np.ndarray):
        self.v = v
        self.g = np.zeros_like(v)


class Linear:
    # Pre-buffer pickles deserialize without the scratch attrs
    _x = None
    _out = None

    def __init__(self, n_in, n_out, rng, dtype):
        bound = np.sqrt(6.0 / (n_in + n_out))
        self.W = Param(rng.uniform(-bound, bound, (n_in, n_out)).astype(dtype))
        self.b = Param(np.zeros(n_out, dtype=dtype))
        self._x = None
        # persistent matmul-output buffers, keyed by 2-D shape: every
        # forward used to allocate a fresh [N, n_out] array (+ another for
        # the bias add), and on this box first-touch page faults on those
        # temporaries dominate the GEMM itself (guide §1.2 per-task work;
        # measured 144 ms/call in degraded windows for a ~2 ms matmul).
        # ALIASING CONTRACT: the returned array is overwritten by this
        # layer's next same-shape forward — callers consume it (or copy
        # into caches) before then, and a model instance is driven by ONE
        # thread at a time (multiorder_nll threads use distinct models;
        # there is no threaded transformer sampling).
        self._out = {}

    def __getstate__(self):
        # scratch never travels: _out is derived, _x is per-call state —
        # dropping them keeps model pickles (broadcast fan-out) lean
        d = self.__dict__.copy()
        d["_x"] = None
        d["_out"] = None
        return d

    def _mm(self, x2):  # [N, n_in] @ W + b into a persistent buffer
        outs = self._out
        if outs is None:
            self._out = outs = {}
        shape = (x2.shape[0], self.W.v.shape[1])
        # result dtype exactly as the old `x @ W + b` (a float64 input
        # against float32 weights must still promote)
        rd = np.result_type(x2.dtype, self.W.v.dtype)
        buf = outs.get(shape)
        if buf is None or buf.dtype != rd:
            outs[shape] = buf = np.empty(shape, dtype=rd)
        np.matmul(x2, self.W.v, out=buf)
        buf += self.b.v
        return buf

    def forward(self, x):  # x: [.., n_in]
        self._x = x
        if x.ndim > 2:
            # one [prod(lead), n_in] GEMM instead of a stack of tiny
            # batched matmuls (measured ~10x on [S, T, d] inputs)
            lead = x.shape[:-1]
            return self._mm(x.reshape(-1, x.shape[-1])).reshape(*lead, -1)
        return self._mm(x)

    def backward(self, dy):
        x2 = self._x.reshape(-1, self._x.shape[-1])
        dy2 = dy.reshape(-1, dy.shape[-1])
        self.W.g += x2.T @ dy2
        self.b.g += dy2.sum(axis=0)
        return dy @ self.W.v.T

    def params(self):
        return [self.W, self.b]


class LayerNorm:
    _std = None  # per-call scratch; class default for pre-buffer pickles
    _xhat = None

    def __init__(self, d, dtype):
        self.g = Param(np.ones(d, dtype=dtype))
        self.b = Param(np.zeros(d, dtype=dtype))
        self.eps = 1e-5

    def __getstate__(self):
        d = self.__dict__.copy()
        d.pop("_std", None)
        d.pop("_xhat", None)
        return d

    def forward(self, x):
        # same expression as the naive form with two fewer fresh
        # full-size temporaries (in-place divide/add — bit-identical)
        mu = x.mean(axis=-1, keepdims=True)
        var = x.var(axis=-1, keepdims=True)
        self._std = np.sqrt(var + self.eps)
        xhat = x - mu
        xhat /= self._std
        self._xhat = xhat
        out = xhat * self.g.v
        out += self.b.v
        return out

    def backward(self, dy):
        xhat, std = self._xhat, self._std
        self.g.g += (dy * xhat).reshape(-1, dy.shape[-1]).sum(axis=0)
        self.b.g += dy.reshape(-1, dy.shape[-1]).sum(axis=0)
        dxhat = dy * self.g.v
        d = dy.shape[-1]
        return (
            dxhat - dxhat.mean(axis=-1, keepdims=True) - xhat * (dxhat * xhat).mean(axis=-1, keepdims=True)
        ) / std

    def params(self):
        return [self.g, self.b]


class CausalSelfAttention:
    """MHSA with additive -inf masking of future positions
    (transformer.py:140-208)."""

    _p = None  # per-call scratch; class defaults for pre-buffer pickles
    _qkv = None
    _dquery = None
    _used_query_input = False
    _scr = None

    def __init__(self, d_model, n_heads, rng, dtype):
        assert d_model % n_heads == 0
        self.h = n_heads
        self.dk = d_model // n_heads
        self.q = Linear(d_model, d_model, rng, dtype)
        self.k = Linear(d_model, d_model, rng, dtype)
        self.v = Linear(d_model, d_model, rng, dtype)
        self.o = Linear(d_model, d_model, rng, dtype)

    def __getstate__(self):
        d = self.__dict__.copy()
        for n in ("_p", "_qkv", "_dquery", "_used_query_input", "_scr"):
            d.pop(n, None)
        return d

    def _split(self, x):  # [B,T,d] -> [B,h,T,dk]
        B, T, d = x.shape
        return x.reshape(B, T, self.h, self.dk).transpose(0, 2, 1, 3)

    def _merge(self, x):  # [B,h,T,dk] -> [B,T,d]
        B, h, T, dk = x.shape
        return x.transpose(0, 2, 1, 3).reshape(B, T, h * dk)

    def forward(self, x, allowed=None, query_input=None):
        """``allowed``: optional [T, T] boolean "may attend" matrix (order-
        respecting masks); None = natural-order causal. ``query_input``:
        optional [B, T, d] alternative source for the QUERIES only (the
        reference's first-layer ``query_input=pos_embs``,
        transformer.py:184-199 — keys/values still come from ``x``, so
        attention weights carry no information about the destination
        position's own input)."""
        B, T, d = x.shape
        self._used_query_input = query_input is not None
        q_src = query_input if query_input is not None else x
        q = self._split(self.q.forward(q_src))
        k = self._split(self.k.forward(x))
        v = self._split(self.v.forward(x))
        # attention scores into a persistent buffer, then the whole
        # mask/softmax chain IN PLACE: the old chain allocated five fresh
        # [B,h,T,T] arrays per forward (matmul, where, subtract, exp,
        # divide) — pure first-touch waste (guide §1.2). Every rewrite is
        # the same op on the same values, so outputs are bit-identical.
        # _p aliases the buffer; it stays valid until this attention's
        # next same-shape forward (backward runs before that).
        scr = getattr(self, "_scr", None)
        if scr is None:
            self._scr = scr = {}
        shape = (B, self.h, T, T)
        att = scr.get(shape)
        if att is None or att.dtype != q.dtype:
            scr[shape] = att = np.empty(shape, dtype=q.dtype)
        np.matmul(q, k.transpose(0, 1, 3, 2), out=att)  # [B,h,T,T]
        att /= np.float32(np.sqrt(self.dk))
        if allowed is None:
            blocked = np.triu(np.ones((T, T), dtype=bool), k=1)
        else:
            blocked = ~allowed
        # dtype-matched fill value: a python float here would silently
        # promote the whole attention tensor to float64
        att[:, :, blocked] = att.dtype.type(-1e10)
        att -= att.max(axis=-1, keepdims=True)
        np.exp(att, out=att)
        att /= att.sum(axis=-1, keepdims=True)
        self._p = att
        self._qkv = (q, k, v)
        out = self._p @ v  # [B,h,T,dk]
        return self.o.forward(self._merge(out))

    def backward(self, dy):
        q, k, v = self._qkv
        p = self._p
        dmerged = self.o.backward(dy)
        dout = self._split(dmerged)  # [B,h,T,dk]
        dp = dout @ v.transpose(0, 1, 3, 2)  # [B,h,T,T]
        dv = p.transpose(0, 1, 3, 2) @ dout
        # softmax backward
        datt = p * (dp - (dp * p).sum(axis=-1, keepdims=True))
        datt = datt / np.sqrt(self.dk)
        dq = datt @ k
        dk_ = datt.transpose(0, 1, 3, 2) @ q
        dq_src = self.q.backward(self._merge(dq))
        if self._used_query_input:
            # query grads flow to the external query_input (pos embeddings),
            # not to x; stashed for the model to fold into pos.g
            self._dquery = dq_src
            dx = self.k.backward(self._merge(dk_))
        else:
            self._dquery = None
            dx = dq_src + self.k.backward(self._merge(dk_))
        dx = dx + self.v.backward(self._merge(dv))
        return dx

    def params(self):
        return self.q.params() + self.k.params() + self.v.params() + self.o.params()


class TransformerBlock:
    """Pre-LN block (transformer.py:221-264): x + attn(LN(x)); x + MLP(LN(x)).

    ``do_residual=False`` reproduces the reference's first-block-special
    case under mask scheme 1 (transformer.py:330-346): the block's output
    is attn/MLP only, with no skip path, so the destination position's own
    input embedding cannot leak past the input-layer attention mask."""

    _ff_in = None  # per-call scratch; class default for pre-buffer pickles

    def __init__(self, d_model, d_ff, n_heads, rng, dtype, do_residual=True, activation="gelu"):
        self.ln1 = LayerNorm(d_model, dtype)
        self.attn = CausalSelfAttention(d_model, n_heads, rng, dtype)
        self.ln2 = LayerNorm(d_model, dtype)
        self.f1 = Linear(d_model, d_ff, rng, dtype)
        self.f2 = Linear(d_ff, d_model, rng, dtype)
        self.do_residual = do_residual
        assert activation in _ACTIVATIONS, activation
        self.activation = activation
        self._act, self._act_grad = _ACTIVATIONS[activation]

    def __getstate__(self):
        d = self.__dict__.copy()
        d.pop("_ff_in", None)  # per-call scratch (aliases f1's buffer)
        return d

    def __setstate__(self, state):
        # pre-activation-option checkpoints lack these attrs: gelu was the
        # only activation, so restore that behavior
        self.__dict__.update(state)
        if "activation" not in state:
            self.activation = "gelu"
            self._act, self._act_grad = _ACTIVATIONS["gelu"]

    def forward(self, x, allowed=None, query_input=None):
        a = self.attn.forward(self.ln1.forward(x), allowed=allowed, query_input=query_input)
        x = x + a if self.do_residual else a
        self._ff_in = self.f1.forward(self.ln2.forward(x))
        m = self.f2.forward(self._act(self._ff_in))
        return x + m if self.do_residual else m

    def backward(self, dy):
        dm = self.f2.backward(dy)
        dff = self._act_grad(self._ff_in)  # fresh buffer, safe to consume
        dff *= dm
        dx2 = self.ln2.backward(self.f1.backward(dff))
        dy = dy + dx2 if self.do_residual else dx2
        da = self.attn.backward(dy)
        dx1 = self.ln1.backward(da)
        return dy + dx1 if self.do_residual else dx1

    def params(self):
        return (
            self.ln1.params() + self.attn.params() + self.ln2.params() + self.f1.params() + self.f2.params()
        )


class ARTransformer:
    """Per-column AR factorization over model bins.

    ``order=None`` (or the natural order) uses the reference's mask scheme
    0 (transformer.py:48-55): sequence ``[SOS, x_0, ..., x_{D-2}]`` with a
    plain causal mask. A non-natural ``order`` uses mask scheme 1
    (transformer.py:58-102): sequence ``[SOS, x_0, ..., x_{D-1}]`` of
    length D+1, order-respecting input mask on the first (residual-free,
    positional-query) block and the diagonal-inclusive hidden mask on the
    rest. Either way, the head of column c reads hidden position c. The
    ordering is fixed at construction (as the reference's
    ``fixed_ordering``); multi-order transformer ensembles use one model
    per ordering."""

    # per-call / per-sampling scratch (dropped from pickles; class defaults
    # let pre-buffer pickles and fresh unpickles resolve)
    _x_bins = None
    _observed = None
    _h_final = None
    _inc = None
    _inc_buffer = None
    _sampling_observed = None
    _pending = None

    def __init__(
        self,
        domains: list[int],
        d_model: int = 64,
        d_ff: int = 256,
        n_heads: int = 4,
        blocks: int = 4,
        seed: int = 0,
        dtype=np.float32,
        column_masking: bool = False,
        order: list[int] | None = None,
        activation: str = "gelu",  # reference transformer.py:326-327: {'relu','gelu'}
    ):
        self.domains = list(domains)
        self.D = len(domains)
        self.d_model = d_model
        self.dtype = dtype
        self.column_masking = column_masking
        self.order = list(order) if order is not None else list(range(self.D))
        assert sorted(self.order) == list(range(self.D)), self.order
        self.scheme = 0 if self.order == list(range(self.D)) else 1
        self.activation = activation
        rng = np.random.RandomState(seed)
        # value embeddings per column + SOS + positional + MASK tokens
        n_pos = self.D + 1 if self.scheme == 1 else self.D
        self.emb = [Param((rng.randn(d, d_model) * 0.02).astype(dtype)) for d in domains]
        self.sos = Param((rng.randn(d_model) * 0.02).astype(dtype))
        self.pos = Param((rng.randn(n_pos, d_model) * 0.02).astype(dtype))
        self.mask_emb = [Param((rng.randn(d_model) * 0.02).astype(dtype)) for _ in domains]
        self.blocks = [
            TransformerBlock(
                d_model, d_ff, n_heads, rng, dtype,
                do_residual=(self.scheme == 0 or i > 0),
                activation=activation,
            )
            for i in range(blocks)
        ]
        self.lnf = LayerNorm(d_model, dtype)
        self.heads = [Linear(d_model, d, rng, dtype) for d in domains]
        self.out_offsets = np.concatenate([[0], np.cumsum(domains)]).astype(int)
        self.n_out = int(self.out_offsets[-1])
        if self.scheme == 1:
            self._allowed_in = order_respecting_mask(self.D, self.order, input_layer=True)
            self._allowed_hid = order_respecting_mask(self.D, self.order, input_layer=False)

    def __getstate__(self):
        # per-call / per-sampling scratch never travels (broadcast fan-out
        # ships weights, not stale activations or KV caches)
        d = self.__dict__.copy()
        for n in (
            "_x_bins", "_observed", "_h_final", "_inc", "_inc_buffer",
            "_sampling_observed", "_pending",
        ):
            d.pop(n, None)
        return d

    def update_order(self, order: list[int]):
        """The transformer's ordering is baked into its masks at
        construction (reference ``fixed_ordering``); re-pinning an already
        matching order is a no-op, anything else is an error."""
        if list(order) != self.order:
            raise ValueError(
                f"ARTransformer ordering is fixed at construction ({self.order}); "
                f"cannot repin to {list(order)} — train one model per ordering"
            )

    # ---------------------------------------------------------------- io
    def _embed(self, x_bins: np.ndarray, observed: np.ndarray | None) -> np.ndarray:
        """Scheme 0: SOS right-shift input (transformer.py:410-493) —
        position 0 = SOS, position i>=1 = embedding of column i-1.
        Scheme 1: position 0 = SOS, position c+1 = embedding of column c
        for ALL D columns (transformer.py:444-449); length D+1."""
        B = x_bins.shape[0]
        T = self.D + 1 if self.scheme == 1 else self.D
        tok = np.zeros((B, T, self.d_model), dtype=self.dtype)
        tok[:, 0] = self.sos.v
        n_in = self.D if self.scheme == 1 else self.D - 1
        for c in range(n_in):
            e = self.emb[c].v[x_bins[:, c]]
            if observed is not None:
                obs = observed[:, c].astype(self.dtype)[:, None]
                e = e * obs + self.mask_emb[c].v[None, :] * (1 - obs)
            tok[:, c + 1] = e
        self._x_bins = x_bins
        self._observed = observed
        return tok + self.pos.v[None]

    def _run_blocks(self, h: np.ndarray) -> np.ndarray:
        if self.scheme == 1:
            # first layer: order-respecting input mask, queries from the
            # positional embeddings only (reference transformer.py:539-546)
            qin = np.broadcast_to(self.pos.v[None], h.shape)
            h = self.blocks[0].forward(h, allowed=self._allowed_in, query_input=qin)
            for b in self.blocks[1:]:
                h = b.forward(h, allowed=self._allowed_hid)
        else:
            for b in self.blocks:
                h = b.forward(h)
        return h

    def forward(self, x_bins: np.ndarray, grad: bool = True, observed: np.ndarray | None = None) -> np.ndarray:
        h = self._run_blocks(self._embed(x_bins, observed))
        h = self.lnf.forward(h)
        self._h_final = h
        B = x_bins.shape[0]
        logits = np.zeros((B, self.n_out), dtype=self.dtype)
        for c in range(self.D):
            lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
            logits[:, lo:hi] = self.heads[c].forward(h[:, c])
        return logits

    def nll(self, logits: np.ndarray, x_bins: np.ndarray):
        """Summed per-column CE (transformer.py:568-585)."""
        B = x_bins.shape[0]
        dlogits = np.zeros_like(logits)
        total = 0.0
        for c in range(self.D):
            lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
            lg = logits[:, lo:hi].astype(np.float64)
            m = lg.max(axis=1, keepdims=True)
            ex = np.exp(lg - m)
            z = ex.sum(axis=1, keepdims=True)
            probs = ex / z
            tgt = x_bins[:, c].astype(np.int64)
            total += -(lg - m - np.log(z))[np.arange(B), tgt].sum()
            grad = probs
            grad[np.arange(B), tgt] -= 1.0
            dlogits[:, lo:hi] = (grad / B).astype(self.dtype)
        return total / B, dlogits

    def nll_rows(self, logits: np.ndarray, x_bins: np.ndarray) -> np.ndarray:
        """Per-row NLL in nats (no grad) — feeds the multi-order ensemble
        metric (reference train_model.py:208-228)."""
        B = x_bins.shape[0]
        out = np.zeros(B, dtype=np.float64)
        for c in range(self.D):
            lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
            lg = logits[:, lo:hi].astype(np.float64)
            m = lg.max(axis=1, keepdims=True)
            z = np.log(np.exp(lg - m).sum(axis=1, keepdims=True))
            tgt = x_bins[:, c].astype(np.int64)
            out += -(lg - m - z)[np.arange(B), tgt]
        return out

    def backward(self, dlogits: np.ndarray):
        B = dlogits.shape[0]
        dh = np.zeros_like(self._h_final)
        for c in range(self.D):
            lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
            dh[:, c] = self.heads[c].backward(dlogits[:, lo:hi])
        dh = self.lnf.backward(dh)
        for b in reversed(self.blocks):
            dh = b.backward(dh)
        if self.scheme == 1:
            # first-layer query path reads the positional embeddings directly
            dq = self.blocks[0].attn._dquery
            if dq is not None:
                self.pos.g += dq.sum(axis=0)
        # embeddings
        self.pos.g += dh.sum(axis=0)
        self.sos.g += dh[:, 0].sum(axis=0)
        x_bins, observed = self._x_bins, self._observed
        n_in = self.D if self.scheme == 1 else self.D - 1
        for c in range(n_in):
            g = dh[:, c + 1]
            if observed is not None:
                obs = observed[:, c].astype(self.dtype)[:, None]
                np.add.at(self.emb[c].g, x_bins[:, c], g * obs)
                self.mask_emb[c].g += (g * (1 - obs)).sum(axis=0)
            else:
                np.add.at(self.emb[c].g, x_bins[:, c], g)

    # ------------------------------------------------------------ params
    def params(self):
        out = self.emb + [self.sos, self.pos] + self.mask_emb
        for b in self.blocks:
            out += b.params()
        out += self.lnf.params()
        for h in self.heads:
            out += h.params()
        return out

    def params_grads(self) -> list[tuple[np.ndarray, np.ndarray]]:
        """Flat ``(value, grad)`` list in ``params()`` order — what Adam
        and the weight exchange iterate."""
        return [(p.v, p.g) for p in self.params()]

    def zero_grad(self):
        for p in self.params():
            p.g[:] = 0

    def num_params(self) -> int:
        return sum(p.v.size for p in self.params())

    # ----------------------------------------- sampling-facing interface
    # (duck-typed to ResMADE so ProgressiveSampling works unchanged)
    def new_input_buffer(self, S: int) -> np.ndarray:
        return np.zeros((S, self.D), dtype=np.int64)

    def hidden_nograd(self, bins_buffer: np.ndarray) -> np.ndarray:
        x = bins_buffer.astype(np.int64)
        obs = self._sampling_observed
        h = self._run_blocks(self._embed(x, obs))
        return self.lnf.forward(h)

    def logits_for_col(self, c: int, h: np.ndarray) -> np.ndarray:
        return self.heads[c].forward(h[:, c])

    def _write_bits(self, buffer: np.ndarray, c: int, vals: np.ndarray):
        buffer[:, c] = vals
        if self._sampling_observed is not None:
            self._sampling_observed[:, c] = True
        self._pending.append(c)

    def write_mask_token(self, buffer: np.ndarray, c: int):
        buffer[:, c] = 0
        self._sampling_observed[:, c] = False
        self._pending.append(c)

    def begin_sampling(self, S: int):
        """Reset the per-query observed map (all MASK) before progressive
        sampling; the sampler walk calls this first."""
        self._sampling_observed = (
            np.zeros((S, self.D), dtype=bool) if self.column_masking else None
        )
        self._pending: list[int] = []
        self._inc = None
        self._inc_buffer = None

    # --------------------------------------- incremental sampling decode
    # The reference caches the encoded input during inference and updates
    # one column slot per sampling step (EncodeInputInference,
    # transformer.py:495-530). This goes further: per-block K/V caches so
    # each step touches ONE sequence position per block instead of
    # re-running full T x T attention — valid because (a) a column's
    # hidden never depends on its own value (the AR property), and (b)
    # every destination made stale by a write is a column later in the
    # sampling order, recomputed at its own read. Measured ~6x over the
    # full re-forward path at S=128, D=11.

    @staticmethod
    def _ln_nograd(ln: LayerNorm, v: np.ndarray) -> np.ndarray:
        mu = v.mean(axis=-1, keepdims=True)
        xc = v - mu
        sd = np.sqrt((xc * xc).mean(axis=-1, keepdims=True) + ln.eps)
        xc /= sd
        xc *= ln.g.v
        xc += ln.b.v
        return xc

    def _lin_nograd(self, lin: Linear, v: np.ndarray) -> np.ndarray:
        # same persistent-buffer GEMM as Linear.forward (aliasing contract
        # there); does not touch lin._x, so it never disturbs a pending
        # backward
        if v.ndim > 2:
            lead = v.shape[:-1]
            return lin._mm(v.reshape(-1, v.shape[-1])).reshape(*lead, -1)
        return lin._mm(v)

    def _src_positions(self, layer: int, p: int) -> np.ndarray:
        """Source positions destination ``p`` may attend at ``layer``."""
        if self.scheme == 0:
            return np.arange(p + 1)
        allowed = self._allowed_in if layer == 0 else self._allowed_hid
        return np.flatnonzero(allowed[p])

    def _inc_kv_update(self, layer: int, p: int):
        """Refresh block ``layer``'s K/V cache at position ``p`` from the
        cached block input. Cache layout [S, h, T, dk]."""
        st = self._inc
        blk = self.blocks[layer]
        xn = self._ln_nograd(blk.ln1, st["xin"][layer][:, p])
        S = xn.shape[0]
        st["K"][layer][:, :, p] = self._lin_nograd(blk.attn.k, xn).reshape(S, blk.attn.h, blk.attn.dk)
        st["V"][layer][:, :, p] = self._lin_nograd(blk.attn.v, xn).reshape(S, blk.attn.h, blk.attn.dk)

    def _inc_init(self):
        """Full forward over the current buffer, capturing per-block inputs
        and K/V caches; later steps touch single positions only."""
        x = self._inc_buffer.astype(np.int64)
        h = self._embed(x, self._sampling_observed)
        L = len(self.blocks)
        S, T, _ = h.shape
        st = {
            "xin": [None] * (L + 1),
            "K": [np.empty((S, b.attn.h, T, b.attn.dk), dtype=self.dtype) for b in self.blocks],
            "V": [np.empty((S, b.attn.h, T, b.attn.dk), dtype=self.dtype) for b in self.blocks],
        }
        self._inc = st
        st["xin"][0] = h
        for l, blk in enumerate(self.blocks):
            # all positions at once (one [S*T, d] matmul per projection)
            xn = self._ln_nograd(blk.ln1, h)
            st["K"][l] = np.ascontiguousarray(
                self._lin_nograd(blk.attn.k, xn).reshape(S, T, blk.attn.h, blk.attn.dk).transpose(0, 2, 1, 3)
            )
            st["V"][l] = np.ascontiguousarray(
                self._lin_nograd(blk.attn.v, xn).reshape(S, T, blk.attn.h, blk.attn.dk).transpose(0, 2, 1, 3)
            )
            if self.scheme == 1 and l == 0:
                qin = np.broadcast_to(self.pos.v[None], h.shape)
                h = blk.forward(h, allowed=self._allowed_in, query_input=qin)
            elif self.scheme == 1:
                h = blk.forward(h, allowed=self._allowed_hid)
            else:
                h = blk.forward(h)
            st["xin"][l + 1] = h

    def _inc_chain(self, p: int) -> np.ndarray:
        """Recompute the destination chain at position ``p`` through all
        blocks (updating the deeper-block input/KV caches), returning the
        final pre-head hidden [S, d]."""
        st = self._inc
        for l, blk in enumerate(self.blocks):
            x_p = st["xin"][l][:, p]
            idx = self._src_positions(l, p)
            if self.scheme == 1 and l == 0:
                q = self._lin_nograd(blk.attn.q, self.pos.v[p][None, :])  # [1, d]
                S = st["xin"][l].shape[0]
                q = np.broadcast_to(q, (S, q.shape[1]))
            else:
                q = self._lin_nograd(blk.attn.q, self._ln_nograd(blk.ln1, x_p))
            S = q.shape[0]
            hds, dk = blk.attn.h, blk.attn.dk
            q = q.reshape(S, hds, dk)
            Ksel = st["K"][l][:, :, idx]  # [S, h, n, dk]
            Vsel = st["V"][l][:, :, idx]
            scores = np.einsum("shd,shnd->shn", q, Ksel) / np.float32(np.sqrt(dk))
            scores -= scores.max(axis=-1, keepdims=True)
            np.exp(scores, out=scores)
            scores /= scores.sum(axis=-1, keepdims=True)
            att = np.einsum("shn,shnd->shd", scores, Vsel).reshape(S, hds * dk)
            a = self._lin_nograd(blk.attn.o, att)
            x1 = x_p + a if blk.do_residual else a
            m = self._lin_nograd(
                blk.f2, blk._act(self._lin_nograd(blk.f1, self._ln_nograd(blk.ln2, x1)))
            )
            out = x1 + m if blk.do_residual else m
            st["xin"][l + 1][:, p] = out
            if l + 1 < len(self.blocks):
                self._inc_kv_update(l + 1, p)
        return self._ln_nograd(self.lnf, st["xin"][-1][:, p])

    def sample_logits_for_col(self, c: int, buffer: np.ndarray) -> np.ndarray:
        """Fast path for ProgressiveSampling: logits of column ``c`` given
        the current buffer, recomputing only positions touched since the
        last call."""
        self._inc_buffer = buffer
        if self._inc is None:
            self._pending.clear()
            self._inc_init()
            h_c = self._ln_nograd(self.lnf, self._inc["xin"][-1][:, c])
            return self._lin_nograd(self.heads[c], h_c)
        T = self.D + 1 if self.scheme == 1 else self.D
        chains = []
        for j in self._pending:
            p_in = j + 1
            if p_in < T:
                # refresh the raw input encoding + block-0 K/V at j's slot
                st = self._inc
                if self._sampling_observed is not None and not self._sampling_observed[0, j]:
                    e = np.broadcast_to(
                        self.mask_emb[j].v[None, :], (buffer.shape[0], self.d_model)
                    )
                else:
                    e = self.emb[j].v[buffer[:, j].astype(np.int64)]
                st["xin"][0][:, p_in] = e + self.pos.v[p_in]
                self._inc_kv_update(0, p_in)
            if self._sampling_observed is not None and not self._sampling_observed[0, j]:
                # wildcard-skipped column: never read, but later columns
                # attend its hidden at deeper blocks — compute its chain
                chains.append(j)
        self._pending.clear()
        for j in chains:
            self._inc_chain(j)
        h_c = self._inc_chain(c)
        return self._lin_nograd(self.heads[c], h_c)

