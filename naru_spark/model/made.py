"""ResMADE — masked autoregressive density model, pure numpy.

Re-expression of the reference's MADE/ResMADE (made.py:54-707 in
/root/reference): masked linear layers (made.py:11-28), residual blocks
(made.py:31-51), sequential degree assignment, per-column output heads sized
by domain (made.py:645-674), binary input encoding (made.py:508-593), and
summed per-column cross-entropy NLL (made.py:676-694). PyTorch is not
available in this environment, so forward/backward/Adam are hand-rolled
numpy; matmuls hit BLAS so training at test scale is minutes.

Autoregressive invariant (the property the reference self-tests,
made.py:710-753): logits of column i depend only on inputs of columns < i
in the natural ordering. Enforced by degree masks:
  input bit of column c      -> degree c+1
  hidden unit k              -> degree (k % (D-1)) + 1   (D = #columns)
  connection j->k allowed    iff deg(k) >= deg(j)
  output head of column c    iff deg(c)=c+1 >  deg(hidden)
Column 0's head connects to nothing — its distribution is the learned bias.
"""

from __future__ import annotations

import threading

import numpy as np


def _relu(x):
    return np.maximum(x, 0.0)


def row_weights(lg: np.ndarray) -> np.ndarray:
    """Unnormalised softmax weights ``exp(lg - max)`` of one column's
    [S, domain] logits, in their dtype; each row's largest weight is 1."""
    w = lg - lg.max(axis=1, keepdims=True)
    return np.exp(w, out=w)


def fold(w: np.ndarray, mask: np.ndarray | None, p: np.ndarray | None) -> np.ndarray:
    """Fold a predicate's model-bin ``mask`` into S rows of one column's
    unnormalised weights ``w`` and return their cumsum, all in ``w``'s
    dtype. ``w`` is overwritten. With a mask, each row's path weight ``p``
    is multiplied in place by its masked share ``s / z`` (``s`` the masked
    mass, ``z`` the row's total: at least 1 for ``row_weights``, 1 for the
    sampling BayesNet's CPD rows); a vanished row (``s == 0``) gets weight
    0. ``mask`` None = unfiltered: ``p`` is untouched. The mask may be any
    non-negative per-bin vector: ``query_weighted`` folds its per-bin
    weights here, so ``p`` gains E[w | prefix]."""
    if mask is not None:
        z = w.sum(axis=1)
        w *= mask.astype(w.dtype, copy=False)
    cum = np.cumsum(w, axis=1, out=w)
    if mask is not None:
        p *= cum[:, -1] / z
    return cum


def draw(cum: np.ndarray, rng: np.random.RandomState) -> np.ndarray:
    """Draw one bin per row from the unnormalised cumsum ``cum``: the
    number of bins whose cumsum lies below ``t = u * s`` (``s = cum[:, -1]``,
    ``u`` uniform in [0, 1)). Rounding keeps ``t <= s``, so the count never
    passes the last bin. A zero-weight bin never wins a row with mass; a
    vanished row (``s == 0``) draws bin 0 (reference estimators.py:278-279)."""
    t = (rng.rand(len(cum), 1) * cum[:, -1:]).astype(cum.dtype)
    return np.count_nonzero(t > cum, axis=1)


def sample_step(
    w: np.ndarray,
    mask: np.ndarray | None,
    p: np.ndarray | None,
    rng: np.random.RandomState,
) -> np.ndarray:
    """One progressive-sampling step over S rows of one column: ``fold``
    the mask into the weights ``w`` (and ``p``), then ``draw`` one bin per
    row from the result. Used by ``ResMADE.sample`` and the sampling
    BayesNet, which passes CPD rows as ``w``; the sampler walk calls
    ``fold`` and ``draw`` itself, because its last column only folds."""
    return draw(fold(w, mask, p), rng)


class MaskedLinear:
    """y = x @ (W*M) + b with cached masked weight (reference made.py:11-28
    caches mask-multiplied weights for inference: same trick here)."""

    _wm = None  # pre-buffer pickles deserialize without the scratch attrs
    _out_tl = None

    def __init__(self, n_in: int, n_out: int, mask: np.ndarray, rng: np.random.RandomState, dtype=np.float64):
        assert mask.shape == (n_in, n_out)
        bound = np.sqrt(6.0 / (n_in + n_out))  # Xavier (train_model.py:322-327)
        self.W = rng.uniform(-bound, bound, size=(n_in, n_out)).astype(dtype)
        self.b = np.zeros(n_out, dtype=dtype)
        self.M = mask.astype(dtype)
        self.dW = np.zeros_like(self.W)
        self.db = np.zeros_like(self.b)
        self._x = None
        self._wm = np.empty_like(self.W)
        self._out_tl = threading.local()

    def _out_buf(self, rows: int, dtype) -> np.ndarray:
        """Persistent matmul-output buffer, per (shape, dtype), THREAD-LOCAL
        so the sampling_stateless shallow-clone contract holds: concurrent
        threads driving clones that share this layer each get their own
        buffer. ALIASING: the returned array is overwritten by this
        thread's next same-shape forward — every call site consumes (or
        copies) it first; backward never reads this layer's own output."""
        tl = self._out_tl
        if tl is None:  # pre-buffer pickle
            self._out_tl = tl = threading.local()
        outs = getattr(tl, "outs", None)
        if outs is None:
            tl.outs = outs = {}
        key = (rows, dtype)
        buf = outs.get(key)
        if buf is None:
            outs[key] = buf = np.empty((rows, self.W.shape[1]), dtype=dtype)
        return buf

    # W stays DENSE on purpose: update_order/resample_masks swap M in place
    # so one weight set serves K orderings — entries masked under the
    # current M must keep their values for when a later M unmasks them.

    @property
    def Wm(self):
        # recompute W*M into a persistent buffer on every access: the old
        # property allocated a fresh product per call (every training step
        # AND every sampling forward), and first-touch page faults on those
        # temporaries dominated the multiply itself. Recompute-on-access
        # stays correct under every W/M mutation pattern (optimizer steps,
        # mask cycling, direct assignment in tests). Callers consume the
        # returned array immediately; none retain it across mutations.
        wm = self._wm
        if wm is None or wm.shape != self.W.shape or wm.dtype != self.W.dtype:
            self._wm = wm = np.empty_like(self.W)
        np.multiply(self.W, self.M, out=wm)
        return wm

    def wm_cols(self, lo: int, hi: int) -> np.ndarray:
        """``(W*M)[:, lo:hi]``, multiplying only that slice."""
        return self.W[:, lo:hi] * self.M[:, lo:hi]

    def __getstate__(self):
        # scratch never travels: _wm/_out_tl are derived, _x is per-call
        # state — dropping them keeps fitted-model pickles (executor
        # fan-out, NaruModel.save) lean
        d = self.__dict__.copy()
        d["_wm"] = None
        d["_x"] = None
        d["_out_tl"] = None
        return d

    def forward(self, x: np.ndarray) -> np.ndarray:
        self._x = x
        y = self._out_buf(x.shape[0], np.result_type(x.dtype, self.W.dtype))
        np.matmul(x, self.Wm, out=y)
        y += self.b
        return y

    def forward_nograd(self, x: np.ndarray) -> np.ndarray:
        y = self._out_buf(x.shape[0], np.result_type(x.dtype, self.W.dtype))
        np.matmul(x, self.Wm, out=y)
        y += self.b
        return y

    def backward(self, dy: np.ndarray) -> np.ndarray:
        g = self._x.T @ dy
        g *= self.M
        self.dW += g
        self.db += dy.sum(axis=0)
        return dy @ self.Wm.T

    def params_grads(self):
        return [(self.W, self.dW), (self.b, self.db)]


class ResMADE:
    """Masked autoregressive MLP with residual blocks over binary-encoded
    model-bin inputs; per-column softmax heads."""

    # Class-level fallbacks: instances pickled before these features
    # existed (NaruModel bundles round-trip through pickle) deserialize
    # without the attributes and resolve here instead of AttributeError.
    lin_emb = None
    lin_direct = None
    input_encoding = "binary"
    output_encoding = "one_hot"
    embed_size = 0
    input_no_emb_if_leq = False
    # Sampling keeps NO cross-query state (begin_sampling is a no-op;
    # forwards only write per-call scratch slots) — a shallow clone per
    # thread makes progressive sampling safely parallel. The transformer
    # deliberately lacks this flag: its KV caches are per-sampling state.
    sampling_stateless = True
    _emb_identity_any = False
    emb_widths = None
    hid_deg = None

    def __init__(
        self,
        domains: list[int],
        hidden: int = 256,
        blocks: int = 2,
        seed: int = 0,
        dtype=np.float64,
        column_masking: bool = False,
        order: list[int] | None = None,
        input_encoding: str = "binary",
        embed_size: int = 32,
        direct_io: bool = False,
        output_encoding: str = "one_hot",
        input_no_emb_if_leq: bool = False,
    ):
        """column_masking: reserve one extra 'unobserved' bit per column and
        train with random input masking (reference's learnable
        unk_embeddings + wildcard dropout, made.py:186-191, 452-490) — this
        is what makes inference-time wildcard SKIPPING sound
        (estimators.py:238-255).

        order: autoregressive ordering — order[k] is the column sampled at
        step k (reference's multi-order MADE, made.py:277-393; natural by
        default). Degrees derive from the position in ``order``, so
        P(x) = prod_k P(x_{order[k]} | x_{order[<k]}).

        input_encoding (reference made.py:413-612 — the Embed / ToOneHot /
        binary dispatcher):
        - 'binary': ceil(log2(domain)) bits per column (default; the
          reference's recommended DMV config is binary-in).
        - 'one_hot': domain-width indicator per column (ToOneHot,
          made.py:508-527).
        - 'embed': one-hot followed by a per-column ``embed_size``-dim
          learnable embedding (Embed, made.py:413-506) — realized as a
          block-diagonal MaskedLinear from the one-hot bits, so the lookup
          table IS the layer's weight block and trains with the same
          Adam/backward machinery. With column_masking the mask bit's
          weight row is exactly the reference's learnable unk_embedding.

        direct_io: additive skip path from the input bits straight to the
        output logits through a STRICT degree mask (reference
        ``direct_io`` connections, made.py:208-247; part of the
        recommended DMV config, README.md:74-81) — lets each head read
        its strictly-preceding columns' raw encodings without spending
        hidden capacity on them.

        output_encoding (reference made.py:645-674 logits dispatch):
        - 'one_hot': per-column softmax heads sized by domain (default;
          the recommended DMV config is binary-in / one-hot-out).
        - 'embed': TIED decode — the network emits embed_size dims per
          column and logits_c = out_c @ E_c^T with E_c the column's INPUT
          embedding table (requires input_encoding='embed'; weight tying
          exactly as the reference, where ``embs_tied`` reuses the
          embedding matrix for decoding). Cuts output params from
          sum(domains) x hidden to D x embed_size x hidden.

        input_no_emb_if_leq (reference made.py:96,180,249-263): with
        'embed' inputs, columns whose domain <= embed_size get NO
        learnable embedding — their (one-hot + mask-bit) indicator passes
        through to the hidden stack unchanged (an identity bypass around
        ``lin_emb``), so the post-embedding width is
        min-ish(domain, embed_size) per column and the embedding table
        drops those columns' domain x embed_size parameters. Deviation
        noted: with column_masking the wildcard representation of a
        bypassed column is its explicit mask BIT (this implementation's
        uniform scheme) rather than the reference's learnable unk vector.
        """
        assert input_encoding in ("binary", "one_hot", "embed")
        assert output_encoding in ("one_hot", "embed")
        if output_encoding == "embed":
            assert input_encoding == "embed", "tied decode requires embed inputs"
        if input_no_emb_if_leq and output_encoding == "embed":
            raise AssertionError(
                "tied decode needs every column's embedding table; "
                "disable input_no_emb_if_leq or use one_hot outputs"
            )
        self.domains = list(domains)
        self.D = len(domains)
        self.hidden = hidden
        self.dtype = dtype
        self.column_masking = column_masking
        self.input_encoding = input_encoding
        self.output_encoding = output_encoding
        self.embed_size = embed_size if input_encoding == "embed" else 0
        self.order = list(order) if order is not None else list(range(self.D))
        assert sorted(self.order) == list(range(self.D))
        rng = np.random.RandomState(seed)

        # input layout (+1 mask bit per column if enabled)
        if input_encoding == "binary":
            self.value_bits = [max(1, int(np.ceil(np.log2(max(d, 2))))) for d in domains]
        else:  # one_hot and embed both feed one-hot indicators
            self.value_bits = [int(d) for d in domains]
        self.col_bits = [b + int(column_masking) for b in self.value_bits]
        self.bit_offsets = np.concatenate([[0], np.cumsum(self.col_bits)]).astype(int)
        self.n_bits = int(self.bit_offsets[-1])
        # output logits layout
        self.out_offsets = np.concatenate([[0], np.cumsum(domains)]).astype(int)
        self.n_out = int(self.out_offsets[-1])

        # degrees: column c sits at position pos[c] in the ordering
        pos = np.empty(self.D, dtype=np.int64)
        for k, c in enumerate(self.order):
            pos[c] = k
        in_deg = np.concatenate(
            [np.full(self.col_bits[c], pos[c] + 1) for c in range(self.D)]
        )
        hid_deg = self.hid_deg = self._default_hid_deg()
        out_deg = np.concatenate(
            [np.full(domains[c], pos[c] + 1) for c in range(self.D)]
        )

        def mask(din, dout, strict=False):
            if strict:
                return (dout[None, :] > din[:, None]).astype(np.float64)
            return (dout[None, :] >= din[:, None]).astype(np.float64)

        self.lin_emb = None
        self.input_no_emb_if_leq = bool(input_no_emb_if_leq)
        if input_encoding == "embed":
            # per-column embed decision and post-embedding width: columns
            # with domain <= embed_size bypass the lookup under
            # input_no_emb_if_leq (identity path, zero params)
            self.col_embeds = [
                (d > embed_size) or not self.input_no_emb_if_leq for d in domains
            ]
            self.emb_widths = [
                embed_size if e else self.col_bits[c]
                for c, e in enumerate(self.col_embeds)
            ]
            self.emb_offsets = np.concatenate([[0], np.cumsum(self.emb_widths)]).astype(int)
            self.n_emb = int(self.emb_offsets[-1])
            # index maps between the bit layout and the post-embedding
            # layout for the identity bypass (gather/scatter in forward)
            emb_in, id_in, emb_out, id_out = [], [], [], []
            for c in range(self.D):
                tgt_in = emb_in if self.col_embeds[c] else id_in
                tgt_out = emb_out if self.col_embeds[c] else id_out
                tgt_in.extend(range(self.bit_offsets[c], self.bit_offsets[c + 1]))
                tgt_out.extend(range(self.emb_offsets[c], self.emb_offsets[c + 1]))
            self._emb_in_idx = np.asarray(emb_in, dtype=np.int64)
            self._id_in_idx = np.asarray(id_in, dtype=np.int64)
            self._emb_out_idx = np.asarray(emb_out, dtype=np.int64)
            self._id_out_idx = np.asarray(id_out, dtype=np.int64)
            self._emb_identity_any = len(id_in) > 0
            if len(emb_in):
                # block-diagonal over the EMBEDDED columns only: column c's
                # (one-hot + mask) bits -> column c's embed dims. Strictly
                # tighter than the degree mask, so the AR invariant is
                # preserved by construction.
                emb_mask = np.zeros((len(emb_in), len(emb_out)))
                ri = ci = 0
                for c in range(self.D):
                    if not self.col_embeds[c]:
                        continue
                    emb_mask[ri : ri + self.col_bits[c], ci : ci + embed_size] = 1.0
                    ri += self.col_bits[c]
                    ci += embed_size
                self.lin_emb = MaskedLinear(len(emb_in), len(emb_out), emb_mask, rng, dtype)
            emb_deg = np.concatenate(
                [np.full(self.emb_widths[c], pos[c] + 1) for c in range(self.D)]
            )
            self.lin_in = MaskedLinear(self.n_emb, hidden, mask(emb_deg, hid_deg), rng, dtype)
        else:
            self.lin_in = MaskedLinear(self.n_bits, hidden, mask(in_deg, hid_deg), rng, dtype)
        self.blocks = []
        for _ in range(blocks):
            l1 = MaskedLinear(hidden, hidden, mask(hid_deg, hid_deg), rng, dtype)
            l2 = MaskedLinear(hidden, hidden, mask(hid_deg, hid_deg), rng, dtype)
            self.blocks.append((l1, l2))
        # decoder space: raw logits (one_hot) or embed_size dims per column
        # that the tied embedding table expands to logits (embed)
        if output_encoding == "embed":
            dec_deg = np.repeat(pos + 1, embed_size)
            self.n_dec = self.D * embed_size
        else:
            dec_deg = out_deg
            self.n_dec = self.n_out
        self.lin_out = MaskedLinear(hidden, self.n_dec, mask(hid_deg, dec_deg, strict=True), rng, dtype)
        self.lin_direct = None
        if direct_io:
            d_in_deg = emb_deg if input_encoding == "embed" else in_deg
            d_n_in = self.n_emb if input_encoding == "embed" else self.n_bits
            self.lin_direct = MaskedLinear(
                d_n_in, self.n_dec, mask(d_in_deg, dec_deg, strict=True), rng, dtype
            )

    # ------------------------------------------------------- order cycling
    def update_order(self, order: list[int]):
        """Re-point the model at a different autoregressive ordering IN
        PLACE (reference ``update_masks`` with multiple orderings,
        made.py:277-393): one weight set serves K orderings by cycling
        masks during training instead of training K separate models.

        Only the order-DEPENDENT masks are rebuilt — lin_in's (input
        degrees follow the ordering) and lin_out's (output degrees
        likewise); hidden-hidden degrees are order-free, and the 'embed'
        mode's lin_emb block-diagonal mask is column-local, so neither
        changes. Rebuilding is exact, so cycling back to a previous
        ordering restores bit-identical logits."""
        order = list(order)
        assert sorted(order) == list(range(self.D))
        self.order = order
        self._rebuild_order_masks()

    def _default_hid_deg(self) -> np.ndarray:
        """The deterministic sequential ResMade assignment (arXiv:1904.05626)."""
        return (np.arange(self.hidden) % max(self.D - 1, 1)) + 1

    def resample_masks(self, mask_seed: int | None):
        """Connectivity-mask cycling (reference ``num_masks``,
        made.py:83,129,194 and update_masks' sampled branch): resample the
        hidden-unit degree vector from ``mask_seed`` — uniform in [1, D-1],
        the 1-based analog of the reference's rng.randint(0, nin-1) — and
        install it with ``set_hid_deg``. One weight set then serves K
        connectivity patterns exactly as it serves K orderings. ``None``
        restores the deterministic sequential assignment. The residual
        trunk shares ONE degree vector across layers (residual adds require
        equal degrees on both summands), so a single draw covers it —
        where the reference's plain-MADE branch draws per layer."""
        if mask_seed is None:
            self.set_hid_deg(None)
        else:
            rng = np.random.RandomState(mask_seed)
            self.set_hid_deg(rng.randint(0, max(self.D - 1, 1), size=self.hidden) + 1)

    def set_hid_deg(self, hid_deg: np.ndarray | None):
        """Install a hidden-unit degree vector (None = the deterministic
        assignment) and rebuild every mask that depends on it IN PLACE: the
        trunk block masks, then lin_in/lin_out (and lin_direct) via
        _rebuild_order_masks."""
        if hid_deg is None:
            hid_deg = self._default_hid_deg()
        self.hid_deg = hid_deg
        dt = self.lin_in.M.dtype
        for l1, l2 in self.blocks:
            M = (hid_deg[None, :] >= hid_deg[:, None]).astype(dt)
            l1.M = M
            l2.M = M.copy()
        self._rebuild_order_masks()

    def _rebuild_order_masks(self):
        pos = np.empty(self.D, dtype=np.int64)
        for k, c in enumerate(self.order):
            pos[c] = k
        hid_deg = self.hid_deg
        if hid_deg is None:  # pre-feature pickle: deterministic ResMade pattern
            hid_deg = self._default_hid_deg()
        out_deg = np.concatenate(
            [np.full(self.domains[c], pos[c] + 1) for c in range(self.D)]
        )
        if self.lin_emb is not None or self._emb_identity_any:
            widths = self.emb_widths
            if widths is None:  # pre-feature pickle: uniform embed widths
                in_deg = np.repeat(pos + 1, self.embed_size)
            else:
                in_deg = np.concatenate(
                    [np.full(widths[c], pos[c] + 1) for c in range(self.D)]
                )
        else:
            in_deg = np.concatenate(
                [np.full(self.col_bits[c], pos[c] + 1) for c in range(self.D)]
            )
        if self.output_encoding == "embed":
            dec_deg = np.repeat(pos + 1, self.embed_size)
        else:
            dec_deg = out_deg
        # the direct path consumes the POST-embedding input in embed mode
        # and the raw bits otherwise — in_deg is that vector in both cases
        d_in_deg = in_deg
        self.lin_in.M = (hid_deg[None, :] >= in_deg[:, None]).astype(self.lin_in.M.dtype)
        self.lin_out.M = (dec_deg[None, :] > hid_deg[:, None]).astype(self.lin_out.M.dtype)
        if self.lin_direct is not None:
            self.lin_direct.M = (dec_deg[None, :] > d_in_deg[:, None]).astype(
                self.lin_direct.M.dtype
            )

    # ------------------------------------------------------------ encoding
    def encode_bits(self, x_bins: np.ndarray, observed: np.ndarray | None = None) -> np.ndarray:
        """[B, D] int model bins -> [B, n_bits] float input encoding
        (reference ToBinaryAsOneHot/ToOneHot, made.py:508-593; one-hot is
        also the raw input of the 'embed' mode — the lookup itself is
        lin_emb). ``observed`` [B, D] bool: False -> zero the value bits
        and set the column's mask bit (the MASK token of the reference's
        column-masking scheme)."""
        B = x_bins.shape[0]
        out = np.zeros((B, self.n_bits), dtype=self.dtype)
        for c in range(self.D):
            vb = self.value_bits[c]
            vals = x_bins[:, c].astype(np.int64)
            obs = None if observed is None else observed[:, c]
            if self.input_encoding == "binary":
                for k in range(vb):
                    bit = ((vals >> k) & 1).astype(self.dtype)
                    if obs is not None:
                        bit = bit * obs
                    out[:, self.bit_offsets[c] + k] = bit
            else:
                ind = np.zeros((B, vb), dtype=self.dtype)
                ind[np.arange(B), np.clip(vals, 0, vb - 1)] = 1.0
                if obs is not None:
                    ind *= np.asarray(obs, dtype=self.dtype)[:, None]
                out[:, self.bit_offsets[c] : self.bit_offsets[c] + vb] = ind
            if self.column_masking:
                out[:, self.bit_offsets[c] + vb] = 0.0 if obs is None else (1.0 - obs)
        return out

    # ------------------------------------------------------------- forward
    def _hidden_forward(self, bits: np.ndarray, grad: bool) -> np.ndarray:
        fwd = (lambda l, v: l.forward(v)) if grad else (lambda l, v: l.forward_nograd(v))
        self._caches = []
        if self.lin_emb is not None:
            if self._emb_identity_any:
                # mixed: embedded columns go through the lookup, bypassed
                # (small-domain) columns copy their bits straight through
                out = np.empty((bits.shape[0], self.n_emb), dtype=self.dtype)
                out[:, self._emb_out_idx] = fwd(self.lin_emb, bits[:, self._emb_in_idx])
                out[:, self._id_out_idx] = bits[:, self._id_in_idx]
                bits = out
            else:
                bits = fwd(self.lin_emb, bits)  # linear lookup, no activation
        # all-identity embed mode (every domain <= embed_size): emb_widths
        # == col_bits so the post-embedding layout IS the bit layout — no-op
        self._x_in = bits  # post-embedding input: feeds lin_direct too
        h = fwd(self.lin_in, bits)
        self._h_in = h
        for l1, l2 in self.blocks:
            a_pre = fwd(l1, _relu(h))
            a = _relu(a_pre)
            b = fwd(l2, a)
            if grad:
                self._caches.append((h.copy(), a_pre))
            h = h + b
        return h

    def apply_observed(self, bits: np.ndarray, observed: np.ndarray) -> np.ndarray:
        """Vectorized masking of a PRE-ENCODED bit matrix: zero the value
        bits of unobserved columns and set their mask bit. Lets the trainer
        encode the dataset once and mask per batch (the per-batch python
        bit loop in encode_bits was the training hot spot)."""
        rep = np.repeat(observed.astype(self.dtype), self.col_bits, axis=1)
        out = bits * rep
        if self.column_masking:
            mask_idx = self.bit_offsets[:-1] + np.asarray(self.value_bits)
            out[:, mask_idx] = 1.0 - observed
        return out

    def _emb_table(self, c: int) -> np.ndarray:
        """Column c's input embedding block [domain_c, embed_size] — the
        VALUE rows only (the mask-bit row never decodes)."""
        off, vb = self.bit_offsets[c], self.value_bits[c]
        E = self.embed_size
        return self.lin_emb.W[off : off + vb, c * E : (c + 1) * E]

    def _tied_logits(self, z: np.ndarray) -> np.ndarray:
        """Tied decode (reference made.py:645-674 embed output): logits_c =
        z_c @ E_c^T with E_c the column's input embedding table."""
        E = self.embed_size
        out = np.empty((z.shape[0], self.n_out), dtype=z.dtype)
        for c in range(self.D):
            lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
            out[:, lo:hi] = z[:, c * E : (c + 1) * E] @ self._emb_table(c).T
        return out

    def forward_encoded(self, bits: np.ndarray, grad: bool = True) -> np.ndarray:
        self._bits = bits
        h = self._hidden_forward(bits, grad)
        self._h_final = h
        if grad:
            z = self.lin_out.forward(_relu(h))
            if self.lin_direct is not None:
                z = z + self.lin_direct.forward(self._x_in)
        else:
            z = self.lin_out.forward_nograd(_relu(h))
            if self.lin_direct is not None:
                z = z + self.lin_direct.forward_nograd(self._x_in)
        if self.output_encoding == "embed":
            self._z_dec = z
            return self._tied_logits(z)
        return z

    def forward(self, x_bins: np.ndarray, grad: bool = True, observed: np.ndarray | None = None) -> np.ndarray:
        return self.forward_encoded(self.encode_bits(x_bins, observed), grad)

    def hidden_nograd(self, bits: np.ndarray) -> np.ndarray:
        return self._hidden_forward(bits, grad=False)

    def logits_for_col(self, c: int, h: np.ndarray) -> np.ndarray:
        """Slice the output head of one column (made.py:645-674) — computes
        only hidden x domain_c work, which is what makes progressive
        sampling affordable per step. ``h`` must come from the preceding
        ``hidden_nograd`` call (which also caches the post-embedding input
        for the direct-IO slice)."""
        if self.output_encoding == "embed":
            E = self.embed_size
            return self._head(h, c * E, (c + 1) * E) @ self._emb_table(c).T
        return self._head(h, self.out_offsets[c], self.out_offsets[c + 1])

    def _head(self, h: np.ndarray, lo: int, hi: int) -> np.ndarray:
        """Output units ``lo:hi``, masking only that slice of the weights."""
        out = _relu(h) @ self.lin_out.wm_cols(lo, hi) + self.lin_out.b[lo:hi]
        if self.lin_direct is not None:
            out = out + self._x_in @ self.lin_direct.wm_cols(lo, hi) + self.lin_direct.b[lo:hi]
        return out

    # ----------------------------------------------------------------- nll
    def nll(self, logits: np.ndarray, x_bins: np.ndarray) -> tuple[float, np.ndarray]:
        """Mean (over rows) summed per-column CE in nats; also returns
        dlogits for backward (softmax - onehot)/B."""
        B = x_bins.shape[0]
        dlogits = np.zeros_like(logits)
        total = 0.0
        for c in range(self.D):
            lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
            lg = logits[:, lo:hi]
            m = lg.max(axis=1, keepdims=True)
            ex = np.exp(lg - m)
            z = ex.sum(axis=1, keepdims=True)
            probs = ex / z
            tgt = x_bins[:, c].astype(np.int64)
            logp = (lg - m - np.log(z))[np.arange(B), tgt]
            total += -logp.sum()
            grad = probs
            grad[np.arange(B), tgt] -= 1.0
            dlogits[:, lo:hi] = grad / B
        return total / B, dlogits

    def nll_rows(self, logits: np.ndarray, x_bins: np.ndarray) -> np.ndarray:
        """Per-ROW summed per-column CE in nats (no grad) — the unit the
        test-time multi-order ensemble metric logsumexps over
        (reference train_model.py:208-228)."""
        B = x_bins.shape[0]
        out = np.zeros(B, dtype=np.float64)
        for c in range(self.D):
            lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
            lg = logits[:, lo:hi]
            m = lg.max(axis=1, keepdims=True)
            z = np.exp(lg - m).sum(axis=1, keepdims=True)
            tgt = x_bins[:, c].astype(np.int64)
            out -= (lg - m - np.log(z))[np.arange(B), tgt]
        return out

    # ------------------------------------------------------------ backward
    def backward(self, dlogits: np.ndarray):
        if self.output_encoding == "embed":
            # tied decode: route dlogits through E_c into the decoder
            # space AND accumulate the weight-tying gradient into the
            # embedding table (all within its block-diagonal mask)
            E = self.embed_size
            dz = np.empty_like(self._z_dec)
            for c in range(self.D):
                lo, hi = self.out_offsets[c], self.out_offsets[c + 1]
                off, vb = self.bit_offsets[c], self.value_bits[c]
                dl_c = dlogits[:, lo:hi]
                dz[:, c * E : (c + 1) * E] = dl_c @ self._emb_table(c)
                self.lin_emb.dW[off : off + vb, c * E : (c + 1) * E] += (
                    dl_c.T @ self._z_dec[:, c * E : (c + 1) * E]
                )
            dlogits = dz
        dx_direct = None
        if self.lin_direct is not None:
            dx_direct = self.lin_direct.backward(dlogits)
        dh = self.lin_out.backward(dlogits)
        dh = dh * (self._h_final > 0)  # relu before output
        for (l1, l2), (h_pre, a_pre) in zip(reversed(self.blocks), reversed(self._caches)):
            db = dh  # gradient wrt block output (h + b)
            da = l2.backward(db)
            da = da * (a_pre > 0)
            dh_inner = l1.backward(da)
            dh = dh + dh_inner * (h_pre > 0)
        dx = self.lin_in.backward(dh)
        if dx_direct is not None:
            dx = dx + dx_direct
        if self.lin_emb is not None:
            # identity-bypassed slots carry no parameters: only the embedded
            # columns' slice of dx reaches the lookup table
            self.lin_emb.backward(
                dx[:, self._emb_out_idx] if self._emb_identity_any else dx
            )

    def zero_grad(self):
        for l in self.layers():
            l.dW[:] = 0
            l.db[:] = 0

    def params_grads(self) -> list[tuple[np.ndarray, np.ndarray]]:
        """Flat ``(value, grad)`` list over every trainable array, in
        ``layers()`` order — what Adam and the weight exchange iterate."""
        return [pg for l in self.layers() for pg in l.params_grads()]

    def layers(self):
        out = [self.lin_in, self.lin_out]
        for l1, l2 in self.blocks:
            out += [l1, l2]
        if self.lin_emb is not None:
            out.append(self.lin_emb)  # appended last: old checkpoints keep their W<i> indices
        if self.lin_direct is not None:
            out.append(self.lin_direct)
        return out

    def num_params(self) -> int:
        return sum(l.W.size + l.b.size for l in self.layers())

    def new_input_buffer(self, S: int) -> np.ndarray:
        """Fresh per-query input buffer for progressive sampling
        (the reference reuses one buffer zeroed per query,
        estimators.py:190-197)."""
        return np.zeros((S, self.n_bits), dtype=self.dtype)

    def begin_sampling(self, S: int):
        pass  # stateless for MADE; the transformer tracks observed columns

    def sample_logits_for_col(self, c: int, bits: np.ndarray) -> np.ndarray:
        """Column ``c``'s logits given the sampling buffer: a full forward
        here; the transformer decodes incrementally from its KV caches."""
        return self.logits_for_col(c, self.hidden_nograd(bits))

    # -------------------------------------------------------- sample (B5)
    def sample(self, n: int, rng: np.random.RandomState) -> np.ndarray:
        """Ancestral sampling of full tuples (reference made.py:696-707)."""
        x = np.zeros((n, self.D), dtype=np.int64)
        bits = self.new_input_buffer(n)
        for c in self.order:
            x[:, c] = sample_step(row_weights(self.sample_logits_for_col(c, bits)), None, None, rng)
            self._write_bits(bits, c, x[:, c])
        return x

    def _write_bits(self, bits: np.ndarray, c: int, vals: np.ndarray):
        off, nb = self.bit_offsets[c], self.value_bits[c]
        v = vals.astype(np.int64)
        if self.input_encoding == "binary":
            for k in range(nb):
                bits[:, off + k] = (v >> k) & 1
        else:
            bits[:, off : off + nb] = 0.0
            bits[np.arange(len(v)), off + np.clip(v, 0, nb - 1)] = 1.0
        if self.column_masking:
            bits[:, off + nb] = 0.0  # observed

    def write_mask_token(self, bits: np.ndarray, c: int):
        """Mark column c unobserved (wildcard) in the input buffer."""
        assert self.column_masking
        off, nb = self.bit_offsets[c], self.value_bits[c]
        bits[:, off : off + nb] = 0.0
        bits[:, off + nb] = 1.0

    # ------------------------------------------------------------ save/load
    def save(self, path: str, extra: dict | None = None):
        arrays = {}
        for i, l in enumerate(self.layers()):
            arrays[f"W{i}"] = l.W
            arrays[f"b{i}"] = l.b
        meta = dict(
            domains=np.array(self.domains),
            hidden=self.hidden,
            blocks=len(self.blocks),
            column_masking=self.column_masking,
            order=np.array(self.order),
            input_encoding=self.input_encoding,
            embed_size=self.embed_size,
            direct_io=self.lin_direct is not None,
            output_encoding=self.output_encoding,
        )
        np.savez_compressed(path, **arrays, **meta, **(extra or {}))

    @classmethod
    def load(cls, path: str) -> "ResMADE":
        z = np.load(path, allow_pickle=True)
        enc = str(z["input_encoding"]) if "input_encoding" in z else "binary"
        model = cls(
            domains=list(z["domains"]),
            hidden=int(z["hidden"]),
            blocks=int(z["blocks"]),
            column_masking=bool(z["column_masking"]) if "column_masking" in z else False,
            order=list(z["order"]) if "order" in z else None,
            input_encoding=enc,
            embed_size=int(z["embed_size"]) if "embed_size" in z and int(z["embed_size"]) else 32,
            direct_io=bool(z["direct_io"]) if "direct_io" in z else False,
            output_encoding=str(z["output_encoding"]) if "output_encoding" in z else "one_hot",
        )
        for i, l in enumerate(model.layers()):
            l.W = z[f"W{i}"]
            l.b = z[f"b{i}"]
        return model


def get_weights(model) -> list[np.ndarray]:
    """Copies of ``model``'s trainable arrays, in ``params_grads()`` order
    (ResMADE or ARTransformer)."""
    return [v.copy() for v, _ in model.params_grads()]


def set_weights(model, weights: list[np.ndarray]) -> None:
    """Copy ``weights`` (a ``get_weights`` list of a same-shaped model)
    into ``model``'s trainable arrays IN PLACE, casting to their dtype."""
    pgs = model.params_grads()
    assert len(pgs) == len(weights), "weight count mismatch"
    for (v, _), w in zip(pgs, weights):
        assert v.shape == w.shape, "weight shape mismatch"
        v[...] = w


class Adam:
    """Adam over ``model.params_grads()`` — one optimizer for both archs
    (train_model.py:375-383: lr 2e-4 default; the transformer trains with
    betas (0.9, 0.98) and eps 1e-9)."""

    def __init__(self, model, lr: float = 2e-4, betas=(0.9, 0.999), eps: float = 1e-8):
        self.model = model
        self.lr = lr
        self.b1, self.b2 = betas
        self.eps = eps
        self.t = 0
        params = [p for p, _ in model.params_grads()]
        self.m = [np.zeros_like(p) for p in params]
        self.v = [np.zeros_like(p) for p in params]
        # persistent scratch: the naive step allocated ~8 fresh temporaries
        # per parameter per step; every rewrite below is an in-place or
        # commutative-swap equivalent, so updates are bit-identical
        self._s1 = [np.zeros_like(p) for p in params]
        self._s2 = [np.zeros_like(p) for p in params]

    def step(self):
        self.t += 1
        bc1 = 1 - self.b1**self.t
        bc2 = 1 - self.b2**self.t
        for (p, g), m, v, s1, s2 in zip(self.model.params_grads(), self.m, self.v, self._s1, self._s2):
            m *= self.b1
            np.multiply(g, 1 - self.b1, out=s1)
            m += s1  # b1*m + (1-b1)*g
            v *= self.b2
            np.multiply(g, g, out=s1)
            s1 *= 1 - self.b2
            v += s1  # b2*v + (1-b2)*(g*g)
            np.divide(m, bc1, out=s1)  # mhat
            s1 *= self.lr
            np.divide(v, bc2, out=s2)  # vhat
            np.sqrt(s2, out=s2)
            s2 += self.eps
            s1 /= s2  # (lr*mhat) / (sqrt(vhat)+eps)
            p -= s1
