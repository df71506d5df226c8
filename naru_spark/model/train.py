"""Training pipeline: Spark-encoded data -> numpy ResMADE or ARTransformer.

MLlib-style Estimator/Model pair (the north star's "MLlib pipeline + custom
estimator"). Training is one core: ``NaruEstimator._new_model`` builds the
model and its ``Adam``, and ``NaruEstimator._epochs`` is the one epoch loop
(reference RunEpoch, train_model.py:126-253). Two entry points drive it:

- ``fit`` runs the Spark side (dictionary fit, model-bin encode, optional
  uniform sample), collects the sample to the driver and trains it there.
  Its per-step hook applies the Noam warm-up LR, mask cycling and order
  cycling.
- ``fit_distributed`` runs the same ``_epochs`` on every partition from
  broadcast weights (no row leaves its executor) and averages the shards'
  weights by row count, per round.

Weights move between models only through the flat ``get_weights`` /
``set_weights`` exchange over ``params_grads()``, so warm start, the shard
broadcast and the averaging carry no per-arch code.

Scale path for ``fit``: at 100 TB you train on a uniform sample (the
estimator's accuracy depends on rows seen, not on epoch-ing the full table;
the reference trains single-node on the full 11.6M-row DMV, which a 1%
sample of 1B rows matches). The encode stage itself is fully distributed
(DictionaryEncoder.transform).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, functions as F

from naru_spark.encoding import DictionaryEncoder
from naru_spark.meta import TableMeta
from naru_spark.model.binning import ModelBinning
from naru_spark.model.made import Adam, ResMADE, get_weights, set_weights


def lr_schedule(
    global_step: int,
    d_model: int,
    warmups: int | None = None,
    constant_lr: float | None = None,
) -> float:
    """Per-step learning rate (reference train_model.py:153-167):
    ``constant_lr`` wins if set; else Noam warmup
    d_model^-0.5 * min(step^-0.5, step * warmups^-1.5); else the
    reference's 1e-2 fallback. ``global_step`` is 1-based
    (steps_per_epoch * epoch + step + 1 in the reference)."""
    if constant_lr:
        return constant_lr
    if warmups:
        return (d_model**-0.5) * min(global_step**-0.5, global_step * warmups**-1.5)
    return 1e-2


class NaruModel:
    """Fitted model: ResMADE + per-column binnings + meta."""

    def __init__(
        self,
        made: ResMADE,
        binnings: dict[str, ModelBinning],
        meta: TableMeta,
        columns: list[str],
        fit_info: dict | None = None,
    ):
        self.made = made
        self.binnings = binnings
        self.meta = meta
        self.columns = columns
        # arch / epochs / seed / model_bits, recorded by NaruEstimator.fit
        # for the checkpoint name (reference train_model.py:427-447)
        self.fit_info = fit_info or {}

    def size_mb(self) -> float:
        """Param count x 4 bytes (reference train_model.py:256-265)."""
        return self.made.num_params() * 4 / 1024**2

    def save(self, path: str) -> None:
        """Pickle the WHOLE fitted bundle (weights + binnings + dictionaries
        + meta) — one artifact restores estimation with zero Spark work, the
        torch.save analog of reference train_model.py:427-447. Store on any
        shared FS / object store for executor-side loading."""
        import pickle

        with open(path, "wb") as f:
            pickle.dump(self, f)

    @classmethod
    def load(cls, path: str) -> "NaruModel":
        import pickle

        with open(path, "rb") as f:
            m = pickle.load(f)
        if not isinstance(m, cls):
            raise TypeError(f"checkpoint at {path} is {type(m).__name__}")
        return m


class NaruEstimator:
    """Fit an AR density model over a table's columns."""

    def __init__(
        self,
        columns: list[str],
        hidden: int = 64,
        blocks: int = 2,
        max_model_domain: int = 256,
        epochs: int = 10,
        batch_size: int = 1024,
        lr: float = 5e-3,
        sample_rows: int | None = 200_000,
        seed: int = 0,
        verbose: bool = False,
        column_masking: bool = True,
        order: list[int] | None = None,
        arch: str = "made",  # "made" (ResMADE) | "transformer" (reference MakeTransformer analog)
        input_encoding: str = "binary",  # "binary" | "one_hot" | "embed" (reference made.py:595-612)
        embed_size: int = 32,
        warmups: int | None = None,  # Noam warmup steps (reference train_model.py:153-167); None = constant self.lr
        data_bits: float | None = None,  # table entropy, for the verbose entropy-gap log (train_model.py:232-238)
        order_cycle: list[list[int]] | None = None,  # K orderings for ONE multi-mask model (reference made.py:277-393)
        direct_io: bool = False,  # input->output skip connections (reference made.py:208-247; recommended DMV config)
        output_encoding: str = "one_hot",  # "one_hot" | "embed" (tied decode, made.py:645-674; needs input_encoding="embed")
        input_no_emb_if_leq: bool = False,  # skip the embedding for domain <= embed_size columns (reference made.py:96,180)
        num_masks: int = 1,  # connectivity-mask cycling (reference made.py:83,129,194); 1 = fixed ResMade masks
    ):
        self.columns = columns
        self.hidden = hidden
        self.blocks = blocks
        self.max_model_domain = max_model_domain
        self.epochs = epochs
        self.batch_size = batch_size
        self.lr = lr
        self.sample_rows = sample_rows
        self.seed = seed
        self.verbose = verbose
        self.column_masking = column_masking
        self.order = order
        assert arch in ("made", "transformer")
        self.arch = arch
        self.input_encoding = input_encoding
        self.embed_size = embed_size
        self.warmups = warmups
        self.data_bits = data_bits
        self.order_cycle = [list(o) for o in order_cycle] if order_cycle else None
        self.num_masks = int(num_masks)
        self.direct_io = direct_io
        self.output_encoding = output_encoding
        self.input_no_emb_if_leq = input_no_emb_if_leq
        if arch == "transformer":
            made_only = {
                "order_cycle": self.order_cycle,
                "num_masks": self.num_masks > 1,
                "input_encoding": input_encoding != "binary",
                "output_encoding": output_encoding != "one_hot",
                "direct_io": direct_io,
                "input_no_emb_if_leq": input_no_emb_if_leq,
            }
            bad = [k for k, v in made_only.items() if v]
            assert not bad, f"{', '.join(bad)}: ResMADE only"

    def _prepare(self, df: DataFrame, meta: TableMeta | None, encoder: DictionaryEncoder | None):
        """Fit the dictionaries and the table meta unless given; returns
        ``(encoder, meta, binnings)``."""
        if encoder is None:
            encoder = DictionaryEncoder(self.columns).fit(df)
        if meta is None:
            meta = encoder.table_meta(df, "table")
        binnings = {
            c: ModelBinning(encoder.dictionaries[c], self.max_model_domain) for c in self.columns
        }
        return encoder, meta, binnings

    def _new_model(self, sizes: list[int]):
        """A freshly initialised model over per-column domains ``sizes`` and
        its optimizer: ``(model, Adam)``. float32 throughout (sgemm: ~2x the
        float64 training throughput)."""
        if self.arch == "transformer":
            from naru_spark.model.transformer import ARTransformer

            made = ARTransformer(
                sizes, d_model=self.hidden, d_ff=self.hidden * 4, n_heads=4,
                blocks=self.blocks, seed=self.seed, dtype=np.float32,
                column_masking=self.column_masking, order=self.order,
            )
            # transformer betas and eps per reference train_model.py:375-383
            return made, Adam(made, lr=self.lr, betas=(0.9, 0.98), eps=1e-9)
        made = ResMADE(
            sizes, hidden=self.hidden, blocks=self.blocks, seed=self.seed,
            dtype=np.float32, column_masking=self.column_masking, order=self.order,
            input_encoding=self.input_encoding, embed_size=self.embed_size,
            direct_io=self.direct_io, output_encoding=self.output_encoding,
            input_no_emb_if_leq=self.input_no_emb_if_leq,
        )
        return made, Adam(made, lr=self.lr)

    def _epochs(
        self, made, opt: Adam, data: np.ndarray, rng: np.random.RandomState, epochs: int, on_step=None
    ):
        """The training loop (reference RunEpoch, train_model.py:126-253):
        per epoch a fresh permutation of the [N, D] model-bin matrix
        ``data``, then per batch wildcard dropout, forward, NLL, backward and
        one optimizer step. ``on_step(global_step)`` (1-based, counted
        across epochs) runs before each batch. Yields each epoch's mean
        NLL in nats. ``data`` must have at least one row."""
        N, D = data.shape
        # encode the whole training matrix ONCE (N x n_bits float32); the
        # per-batch work is then a row gather + vectorized mask apply. The
        # transformer embeds per batch inside forward().
        pre_bits = made.encode_bits(data) if self.arch == "made" else None
        step = 0
        for _ in range(epochs):
            perm = rng.permutation(N)
            tot, nb = 0.0, 0
            for lo in range(0, N, self.batch_size):
                step += 1
                if on_step is not None:
                    on_step(step)
                idx = perm[lo : lo + self.batch_size]
                b = data[idx]
                observed = None
                if self.column_masking:
                    # wildcard dropout (reference made.py:186-191): per batch
                    # draw a masking rate, then Bernoulli per (row, column)
                    p_mask = rng.randint(0, D + 1) / D
                    observed = rng.rand(len(b), D) >= p_mask
                if pre_bits is not None:
                    bits_b = pre_bits[idx]
                    if observed is not None:
                        bits_b = made.apply_observed(bits_b, observed)
                    logits = made.forward_encoded(bits_b)
                else:
                    logits = made.forward(b, observed=observed)
                loss, dl = made.nll(logits, b)
                made.zero_grad()
                made.backward(dl)
                opt.step()
                tot += loss
                nb += 1
            yield tot / nb

    def fit(
        self,
        df: DataFrame,
        meta: TableMeta | None = None,
        encoder: DictionaryEncoder | None = None,
        warm_start: "NaruModel | None" = None,
    ) -> NaruModel:
        """``warm_start``: continue training from an existing model's
        weights instead of a fresh init — the production refresh path
        (nightly re-fit starts near yesterday's solution and converges in
        a fraction of the epochs; measured in model_refresh_report).
        Requires the same architecture and the SAME binnings/encoder
        (domain-stable refresh — shapes are asserted); the optimizer
        state starts fresh, matching the common warm-restart practice."""
        t0 = time.time()
        encoder, meta, binnings = self._prepare(df, meta, encoder)

        # Spark side: encode to raw bins, optionally uniform-sample, collect
        # the [N, D] int32 training matrix (reference TableDataset,
        # common.py:237-251 — there the full table; here sample-bounded).
        src = df.select(*self.columns)
        if self.sample_rows is not None and meta.cardinality > self.sample_rows:
            # sample BEFORE encoding: the dictionary join/searchsorted then
            # touches sample_rows rows, not the full table
            frac = min(1.0, self.sample_rows / meta.cardinality * 1.1)
            src = src.sample(fraction=frac, seed=self.seed)
        encoded = encoder.transform(src)
        bin_cols = [f"{c}__bin" for c in self.columns]
        pdf = encoded.select(*bin_cols).toPandas()
        raw = pdf.to_numpy(dtype=np.int64)
        data = np.stack(
            [binnings[c].encode(raw[:, i]) for i, c in enumerate(self.columns)], axis=1
        )
        if not len(data):
            raise ValueError("fit: input DataFrame is empty (no rows to train on)")

        made, opt = self._new_model([binnings[c].model_size for c in self.columns])
        if warm_start is not None:
            assert warm_start.fit_info.get("arch", "made") == self.arch
            set_weights(made, get_weights(warm_start.made))

        def on_step(step: int):
            if self.warmups:
                # d_model analog: the reference uses model.embed_size
                opt.lr = lr_schedule(step, self.hidden, self.warmups)
            if self.num_masks > 1:
                # one weight set, K CONNECTIVITY patterns: resample the
                # hidden degrees per step from a cycling seed (reference
                # num_masks, made.py:83,129,194) — composes with order
                # cycling below (orderings rebuild in/out masks on top
                # of whatever hidden degrees are active)
                made.resample_masks(self.seed + (step % self.num_masks))
            if self.order_cycle:
                # one weight set, K orderings: rebuild the two
                # order-dependent masks per step (made.update_order) —
                # the reference's multi-mask training (made.py:277-393)
                made.update_order(self.order_cycle[step % len(self.order_cycle)])

        rng = np.random.RandomState(self.seed)
        nll = float("nan")
        for epoch, nll in enumerate(self._epochs(made, opt, data, rng, self.epochs, on_step)):
            if self.verbose:
                bits = nll / np.log(2)
                gap = "" if self.data_bits is None else f" entropy gap {bits - self.data_bits:.4f} bits"
                print(
                    f"epoch {epoch}: nll {nll:.4f} nats ({bits:.3f} bits/tuple){gap}"
                    f" lr {opt.lr:.5f} [{time.time()-t0:.0f}s]"
                )
        fit_info = {
            "arch": self.arch,
            "epochs": self.epochs,
            "seed": self.seed,
            "model_bits": float(nll / np.log(2)),
            "input_encoding": self.input_encoding,
        }
        return NaruModel(made, binnings, meta, list(self.columns), fit_info=fit_info)

    def fit_distributed(
        self,
        df: DataFrame,
        meta: TableMeta | None = None,
        encoder: DictionaryEncoder | None = None,
        rounds: int = 2,
        local_epochs: int | None = None,
    ) -> NaruModel:
        """Data-parallel fit: partition-local SGD + row-weighted parameter
        averaging per round (local-SGD / FedAvg-style — the standard
        synchronous data-parallel scheme when per-batch gradient all-reduce
        isn't available, which from Python-on-Spark it is not).

        Contrast with ``fit`` (collect a bounded sample to the driver, train
        there): here NO row leaves its executor — each partition runs the
        same ``_epochs`` loop for ``local_epochs`` on its own shard from the
        same broadcast weights, ships back one weight vector (model-sized,
        ~MBs), and the driver averages weighted by shard row count. At
        100 TB that is the only shape that works on the FULL table: network
        cost per round is O(partitions x model size), not O(rows).

        Rounds trade communication for staleness: more rounds -> closer to
        single-node SGD on the shuffled union. Deterministic given a fixed
        input partitioning (per-partition RNG seeded by partition id).
        Shards train with a constant lr under one ordering, so ``warmups``
        and ``order_cycle`` are refused rather than silently ignored.
        """
        import functools
        import pickle

        if self.warmups or self.order_cycle:
            raise ValueError(
                "fit_distributed does not support warmups/order_cycle: shards "
                "train with constant lr and the model's single fixed ordering"
            )
        encoder, meta, binnings = self._prepare(df, meta, encoder)
        sizes = [binnings[c].model_size for c in self.columns]
        bin_cols = [f"{c}__bin" for c in self.columns]
        encoded = encoder.transform(df.select(*self.columns)).select(*bin_cols)
        epochs = local_epochs if local_epochs is not None else self.epochs
        sc = df.sparkSession.sparkContext

        # Driver and every shard build the model the same way (same seed,
        # so parameter shapes always line up — only VALUES travel).
        made, _ = self._new_model(sizes)

        # Ship ONLY the per-column raw->model lookup arrays (all encode()
        # needs), broadcast once for all rounds — closure-capturing the
        # binnings dict would serialize every ColumnDictionary into every
        # task of every round (O(distinct values) per high-card column).
        enc_bc = sc.broadcast({c: binnings[c].raw_to_model for c in self.columns})

        weights = get_weights(made)
        for rnd in range(rounds):
            w_bc = sc.broadcast(pickle.dumps(weights))

            def train_shard(batches):
                import pandas as pd
                from pyspark import TaskContext

                pdfs = [p for p in batches if len(p)]
                if not pdfs:
                    return
                raw = pd.concat(pdfs).to_numpy(dtype="int64")
                lookup = enc_bc.value
                data = np.stack(
                    [lookup[c][raw[:, i]] for i, c in enumerate(self.columns)], axis=1
                )
                local, opt = self._new_model(sizes)
                set_weights(local, pickle.loads(w_bc.value))
                if self.num_masks > 1:
                    # connectivity-mask cycling on the distributed path: one
                    # mask per ROUND, identical across shards (seeded by the
                    # round index, not the step counter) — shards must train
                    # under the SAME connectivity or the row-weighted weight
                    # average mixes incompatible masked subnetworks.
                    local.resample_masks(self.seed + (rnd % self.num_masks))
                pid = TaskContext.get().partitionId() if TaskContext.get() else 0
                rng = np.random.RandomState(self.seed + 1009 * rnd + pid)
                for _ in self._epochs(local, opt, data, rng, epochs):
                    pass
                yield pd.DataFrame({"n": [len(data)], "w": [pickle.dumps(get_weights(local))]})

            rows = encoded.mapInPandas(train_shard, schema="n long, w binary").collect()
            if not rows:
                raise ValueError(
                    "fit_distributed: input DataFrame is empty (no partition yielded rows)"
                )
            total = sum(r.n for r in rows)
            fracs = [r.n / total for r in rows]
            shards = [pickle.loads(bytes(r.w)) for r in rows]
            weights = [
                functools.reduce(np.add, [w * f for w, f in zip(ws, fracs)]) for ws in zip(*shards)
            ]
            w_bc.unpersist()
        enc_bc.unpersist()

        if self.num_masks > 1:
            # The averaged weights were trained under the per-round cycled
            # connectivity masks, never under the construction-time
            # deterministic masks — leave the driver model on the LAST
            # round's mask (the single-node fit() likewise ends on its last
            # trained mask), or inference would run averaged weights under
            # an untrained connectivity pattern.
            made.resample_masks(self.seed + ((rounds - 1) % self.num_masks))
        set_weights(made, weights)
        fit_info = {
            "arch": self.arch,
            "epochs": epochs * rounds,
            "seed": self.seed,
            "model_bits": float("nan"),
            "distributed_rounds": rounds,
            "input_encoding": self.input_encoding,
        }
        return NaruModel(made, binnings, meta, list(self.columns), fit_info=fit_info)


def model_nll_rows(model, data: np.ndarray, chunk_rows: int = 4096) -> np.ndarray:
    """Per-row NLL (nats) of ``data`` under ``model``, evaluated in chunks.

    Chunking is a measured 3x win over a one-shot 20k-row forward for the
    transformer arch: each layer of a one-shot forward allocates fresh
    100MB+ activation arrays (page-fault bound in a JVM-heavy process),
    while 4k-row chunks stay inside the allocator's warm pool. Per-row
    results are independent, so chunking is exact (float-noise only).
    """
    made = getattr(model, "made", model)
    outs = []
    for i in range(0, len(data), chunk_rows):
        c = data[i : i + chunk_rows]
        outs.append(made.nll_rows(made.forward(c, grad=False), c))
    return np.concatenate(outs) if outs else np.zeros(0)


def multi_order_nll(
    models: list,
    data: np.ndarray,
    orders: list[list[int]] | None = None,
    per_row_nll: list[np.ndarray] | None = None,
) -> float:
    """Test-time multi-order ensemble NLL (reference train_model.py:208-228):

        p(x) = 1/K sum_i p_i(x)
        -log p(x) = -( logsumexp_i( -nll_i(x) ) + log(1/K) )

    ``models``: fitted per-ordering models (NaruModel bundles or bare
    ResMADEs over the same columns/binnings); ``data``: [N, D] model-bin
    matrix (the eval split). With ``orders``, a SINGLE multi-mask model
    is forwarded once per ordering (update_order in-place — the
    reference's num_orderings loop over one model) instead of one model
    per ordering. With ``per_row_nll`` (one [N] nats array per model, e.g.
    from ``model_nll_rows``), the forwards are skipped entirely — callers
    that already report per-member NLLs shouldn't pay for them twice.
    Returns the mean over rows, in nats — report next to
    MultiOrderEnsemble's estimates."""
    if per_row_nll is not None:
        logps = [-nll for nll in per_row_nll]
    elif orders is not None:
        assert len(models) == 1, "orders: pass exactly one multi-mask model"
        made = getattr(models[0], "made", models[0])
        prev_order = list(made.order)
        logps = []
        try:
            for o in orders:
                made.update_order(list(o))
                logps.append(-model_nll_rows(made, data))
        finally:
            # leave the shared model as we found it — other estimators may
            # hold it
            made.update_order(prev_order)
    else:
        logps = [-model_nll_rows(m, data) for m in models]
    return _mixture_nll(logps)


def multi_mask_nll(
    model, data: np.ndarray, mask_seeds: list[int | None]
) -> float:
    """Connectivity-mask ensemble NLL — the ``num_masks`` analog of
    ``multi_order_nll``'s ``orders`` mode (reference made.py:83,129,194):
    ONE weight set is evaluated under each connectivity pattern in
    ``mask_seeds`` (``None`` = the deterministic ResMade pattern) and the
    per-row likelihoods mix by logsumexp. The model's masks are restored
    to their entry state afterwards — other estimators may hold it."""
    made = getattr(model, "made", model)
    prev = made.hid_deg
    logps = []
    try:
        for seed in mask_seeds:
            made.resample_masks(seed)
            logps.append(-model_nll_rows(made, data))
    finally:
        made.set_hid_deg(prev)
    return _mixture_nll(logps)


def _mixture_nll(logps: list[np.ndarray]) -> float:
    """Mean NLL (nats) of the uniform K-member mixture, from each member's
    per-row log-likelihoods: -log p(x) = -(logsumexp_i logp_i(x) + log(1/K))."""
    lp = np.stack(logps, axis=1)  # [N, K]
    mx = lp.max(axis=1, keepdims=True)
    lse = mx[:, 0] + np.log(np.exp(lp - mx).sum(axis=1))
    return float(np.mean(-(lse + np.log(1.0 / len(logps)))))


def table_bits(df: DataFrame, columns: list[str]) -> float:
    """Empirical joint entropy in bits (reference Entropy,
    train_model.py:112-123, 340-343) — one groupBy job."""
    counts = df.groupBy(*columns).agg(F.count("*").alias("cnt"))
    total = df.count()
    row = counts.agg(
        (-F.sum((F.col("cnt") / total) * F.log2(F.col("cnt") / total))).alias("H")
    ).collect()[0]
    return float(row["H"])


# --------------------------------------------------------- checkpoint naming
# Reference naming (train_model.py:427-447):
#   <dataset>-<MB>MB-model<bits>-data<bits>-<arch>-<epochs>epochs-seed<seed>
#   [-order<o0>_<o1>_...].pt
# The -order suffix is appended for non-natural orderings (train_model.py:
# 440-443) and parsed back at eval time (eval_model.py:497-507) — without
# it, two differently-ordered checkpoints of the same architecture collide
# to the same filename. Same scheme here, .ckpt suffix.
_CKPT_RE = __import__("re").compile(
    r"^(?P<dataset>.+)-(?P<mb>[\d.]+)MB-model(?P<model_bits>[\d.]+|nan)"
    r"-data(?P<data_bits>[\d.]+|nan)-(?P<arch>[a-z]+)"
    r"-(?P<epochs>\d+)epochs-seed(?P<seed>\d+)(?:-order(?P<order>\d+(?:_\d+)*))?\.ckpt$"
)


def checkpoint_name(model: NaruModel, dataset: str, data_bits: float = float("nan")) -> str:
    """Self-describing checkpoint file name from the fitted model's
    metadata; ``data_bits`` is the table entropy (table_bits)."""
    fi = model.fit_info
    order = list(getattr(model.made, "order", []))
    suffix = ""
    if order and order != list(range(len(order))):
        suffix = "-order" + "_".join(map(str, order))
    return (
        f"{dataset}-{model.size_mb():.1f}MB-model{fi.get('model_bits', float('nan')):.1f}"
        f"-data{data_bits:.1f}-{fi.get('arch', 'made')}"
        f"-{fi.get('epochs', 0)}epochs-seed{fi.get('seed', 0)}{suffix}.ckpt"
    )


def parse_checkpoint_name(name: str) -> dict:
    """Inverse of checkpoint_name (reference eval_model.py:480-543):
    file name -> {dataset, mb, model_bits, data_bits, arch, epochs, seed,
    order (list[int] | None — None = natural)}."""
    m = _CKPT_RE.match(name)
    if not m:
        raise ValueError(f"not a checkpoint name: {name!r}")
    d = m.groupdict()
    return {
        "dataset": d["dataset"],
        "mb": float(d["mb"]),
        "model_bits": float(d["model_bits"]),
        "data_bits": float(d["data_bits"]),
        "arch": d["arch"],
        "epochs": int(d["epochs"]),
        "seed": int(d["seed"]),
        "order": [int(x) for x in d["order"].split("_")] if d["order"] else None,
    }
