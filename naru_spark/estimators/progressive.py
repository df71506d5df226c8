"""ProgressiveSampling — the reference's core estimator (B4), numpy edition.

One walk answers every query (``ProgressiveSampling._walk``, reference
``estimators.py:134-418``). For each column in the model's ordering it takes
the column's unnormalised softmax weights given the sampled prefix, in the
model's dtype, and runs the shared sampling step (``model.made``):
``fold`` multiplies them by the predicate's model-bin mask
(``model.binning.predicate_masks``), takes the cumsum and multiplies each
path's weight by its masked share; ``draw`` picks the next value against
that unnormalised cumsum. The walk writes the value's encoding into the
input buffer and forwards again. It ends at the last filtered column, which
only folds: nothing after it changes a path weight, so it makes no draw and
later columns make no forward. Estimate = mean over samples of the path
weights x cardinality (estimators.py:356-363).

- Conjunctions and disjunctions share the walk: a disjunction expands by
  inclusion-exclusion (``predicates.ie_terms``) into conjunctive terms whose
  selectivities are summed before the final ceil.
- ``query_weighted`` folds its per-bin weights at the weight column in
  place of a mask, so E[w | prefix] joins the path weights; that column is
  last in the ordering, so the walk ends there.
- ``SampleFromModel`` and ``BayesNet`` reuse the same mask builder and
  sampling step.

Reference parity notes:
- wildcard short-circuit (estimators.py:238-255) is implemented: models
  trained with column masking (made.py:186-191) write the MASK token for
  unfiltered columns and skip their forward passes;
- custom per-model column orderings are honored (``made.order``), and
  ``MultiOrderEnsemble`` averages estimates across orderings
  (estimators.py:409-418);
- domains above ``max_model_domain`` are equal-freq binned with fractional
  boundary masks (see model/binning.py) — the reference's BN estimator does
  the same re-discretization (estimators.py:683-740).

Batch scoring (``estimate_batch``): queries ship to executors via
``mapInPandas`` with the (small) model broadcast — the Spark replacement for
the reference's Ray-parallel eval (eval_model.py:303-375).
"""

from __future__ import annotations

import numpy as np

from naru_spark.estimators.base import CardEst
from naru_spark.model.binning import predicate_masks
from naru_spark.model.made import draw, fold, row_weights
from naru_spark.model.train import NaruModel
from naru_spark.predicates import Query, ie_terms


class ProgressiveSampling(CardEst):
    name = "psample"

    def __init__(
        self,
        model: NaruModel,
        num_samples: int = 512,
        seed: int = 0,
        order: list[int] | None = None,
    ):
        """``order``: pin a multi-mask (order-cycled) model to one of its
        trained orderings before each query (made.update_order — exact
        in-place mask rebuild). None = use the model's current ordering."""
        super().__init__()
        self.model = model
        self.num_samples = num_samples
        self.seed = seed
        self.order = list(order) if order is not None else None
        self.name = f"psample_{num_samples}"

    def query(self, q: Query) -> float:
        made = self.model.made
        prev_order = None
        if self.order is not None and list(made.order) != list(self.order):
            # pin the shared multi-mask model to this estimator's ordering;
            # restored below so other estimators holding the same model
            # (e.g. an unpinned ProgressiveSampling created earlier) are
            # not silently re-ordered by this query
            prev_order = list(made.order)
            made.update_order(self.order)
        try:
            # a conjunctive query is its own single term; an OR of k
            # conjunctions is 2^k - 1 walks whose selectivities combine
            # BEFORE the final ceil
            sel = sum(coef * self._walk(t) for coef, t in ie_terms(q))
            sel = min(max(sel, 0.0), 1.0)
            return float(np.ceil(sel * self.model.meta.cardinality))
        finally:
            if prev_order is not None:
                made.update_order(prev_order)

    def query_weighted(self, q: Query, weight_col: str, weight_values) -> float:
        """NeuroCard-style weighted expectation over the model:

            E[ w(weight_col) * 1{pred} ] * cardinality

        With w = 1/fanout over a 1:N join-trained model this DOWNSCALES
        join-space probabilities back to the one side's base-table
        cardinality (each base row appears fanout times in the join, so
        1/fanout de-duplicates it in expectation) — the identity that lets
        one join-trained model answer base-table questions.

        ``weight_values`` is the per-MODEL-BIN weight vector for
        ``weight_col`` (exact when the column is unbinned — its domain
        fits max_model_domain — which the caller should ensure for
        fanouts). The weight column must be LAST in the model's ordering:
        its expectation is taken conditioned on the full sampled prefix,
        Σ_v P(v | prefix) w(v), and nothing samples after it — putting it
        earlier would require integrating the rest of the chain over v.
        The column must also be unfiltered in ``q``."""
        wi = self.model.columns.index(weight_col)
        assert self.model.made.order[-1] == wi, "weight column must be last in the ordering"
        assert weight_col not in q.cols, "weight column must be unfiltered"
        sel = self._walk(q, (wi, np.asarray(weight_values, dtype=np.float64)))
        return float(np.ceil(sel * self.model.meta.cardinality))

    def _walk(self, q: Query, weight: tuple[int, np.ndarray] | None = None) -> float:
        """Mean path weight of ``num_samples`` progressive samples of the
        conjunctive ``q``. ``weight = (column, per-bin weights)`` folds
        E[w | prefix] into each path at that column, like a mask."""
        rng = np.random.RandomState(self.seed)
        made = self.model.made
        S = self.num_samples
        masks = predicate_masks(q, self.model.columns, self.model.binnings)
        if weight is not None:
            masks[weight[0]] = weight[1]
        # the walk ends at the last column that folds into p: later columns
        # never touch p, so their forwards and draws are dead work
        order = list(made.order)
        n = max((i + 1 for i, c in enumerate(order) if masks[c] is not None), default=0)

        made.begin_sampling(S)
        bits = made.new_input_buffer(S)
        p = np.ones(S, dtype=np.float64)
        # the model's ordering (reference estimators.py:370-389)
        for i, c in enumerate(order[:n]):
            if masks[c] is None and made.column_masking:
                # wildcard short-circuit (estimators.py:238-255): the model
                # was trained with masked inputs, so writing the MASK token
                # and skipping this column's forward + sampling is sound —
                # forwards per query = #filtered columns, not #columns.
                made.write_mask_token(bits, c)
                continue
            cum = fold(row_weights(made.sample_logits_for_col(c, bits)), masks[c], p)
            if i + 1 < n:
                made._write_bits(bits, c, draw(cum, rng))
        return float(p.mean())

    def query_batch(self, queries: list[Query], threads: int | None = None):
        """THREADED batch scoring on one node (the reference evaluates its
        2000-query sweeps in parallel workers, eval_model.py RunNParallel;
        this is the single-process analog): MADE sampling keeps no
        cross-query state beyond per-forward scratch slots
        (``_x_in``/``_caches``, written even in nograd mode), so each
        worker thread scores through a SHALLOW clone of the model —
        weight arrays shared read-only, scratch slots private — and the
        heavy matmuls release the GIL inside BLAS. Results are
        BIT-IDENTICAL to the sequential loop (each query seeds its own
        RandomState exactly as ``query`` does). OPT-IN via ``threads``:
        the default stays the sequential loop so callers that time
        ``query_batch`` as per-query LATENCY (the estimator reports'
        mean_ms split) keep a comparable measurement regime — threading
        would silently turn those into amortized throughput. Also falls
        back to sequential for order-pinned estimators (``update_order``
        mutates the shared masks), stateful samplers (the transformer's
        KV caches — no ``sampling_stateless`` flag), and tiny batches."""
        made = self.model.made
        if (
            threads is None
            or threads <= 1
            or self.order is not None
            or not getattr(made, "sampling_stateless", False)
            or len(queries) < 8
        ):
            return [self.query(q) for q in queries]
        import copy
        import os
        from concurrent.futures import ThreadPoolExecutor

        n = max(1, min(threads, os.cpu_count() or 8, len(queries)))
        results: list = [None] * len(queries)

        def run(k: int) -> None:
            m = copy.copy(self.model)
            m.made = copy.copy(made)
            w = ProgressiveSampling(
                m, num_samples=self.num_samples, seed=self.seed
            )
            for i in range(k, len(queries), n):
                results[i] = w.query(queries[i])

        with ThreadPoolExecutor(max_workers=n) as ex:
            list(ex.map(run, range(n)))
        return results

    # ------------------------------------------------------- batch scoring
    def estimate_batch(
        self,
        spark,
        queries: list[Query],
        partitions: int | None = None,
        min_distribute: int = 64,
    ):
        """Distribute query scoring: each executor gets the broadcast model
        and scores its partition of queries via mapInPandas.

        Batches under ``min_distribute`` queries run on the driver — the
        broadcast + job-launch overhead (~1s) dwarfs per-query cost (~10ms)
        until the batch is big enough to amortize it; the distributed path
        is for the reference's 2000-query eval sweeps (eval_model.py
        RunNParallel), not interactive handfuls."""
        import pandas as pd

        if len(queries) < min_distribute:
            return [float(self.query(q)) for q in queries]

        model_bc = spark.sparkContext.broadcast(self.model)
        S, seed, order = self.num_samples, self.seed, self.order
        # query values shipped as a broadcast of the original objects keyed
        # by id — stringify + re-parse would be lossy for timestamps/floats
        q_bc = spark.sparkContext.broadcast({i: q for i, q in enumerate(queries)})
        n_part = partitions or min(len(queries), 32)
        idx_df = spark.createDataFrame([(i,) for i in range(len(queries))], "qid int").repartition(
            n_part
        )

        def score(batches):
            model = model_bc.value
            # thread the order pin: an order-pinned estimator (e.g. a
            # MultiOrderEnsemble sub) must score with ITS ordering, not
            # whatever ordering the broadcast model happened to carry
            est = ProgressiveSampling(model, num_samples=S, seed=seed, order=order)
            qmap = q_bc.value
            for pdf in batches:
                out = []
                for qid in pdf["qid"]:
                    out.append({"qid": int(qid), "est_card": est.query(qmap[int(qid)])})
                yield pd.DataFrame(out)

        res = idx_df.mapInPandas(score, schema="qid int, est_card double").collect()
        by_id = {r.qid: r.est_card for r in res}
        return [by_id[i] for i in range(len(queries))]


class MultiOrderEnsemble(CardEst):
    """Multi-ordering ensemble (reference estimators.py:409-418 and the
    multi-order NLL of train_model.py:208-228): average the estimates of K
    models trained with different autoregressive orderings, each given
    num_samples/K progressive samples. Orderings decorrelate the sampling
    error of highly-selective conjunctions."""

    name = "psample_multiorder"

    def __init__(self, models, num_samples: int = 512, seed: int = 0):
        super().__init__()
        total = max(1, num_samples // len(models))
        self.subs = [ProgressiveSampling(m, num_samples=total, seed=seed + i) for i, m in enumerate(models)]
        self.name = f"psample_{len(models)}orders_{num_samples}"

    @classmethod
    def from_single_model(
        cls, model: NaruModel, orders: list[list[int]], num_samples: int = 512, seed: int = 0
    ) -> "MultiOrderEnsemble":
        """Ensemble over ONE order-cycled multi-mask model (reference
        made.py:277-393 + estimators.py:409-418): each sub-estimator pins
        the shared weights to one trained ordering via update_order —
        K orderings at 1x training cost instead of K separate fits."""
        self = cls.__new__(cls)
        CardEst.__init__(self)
        total = max(1, num_samples // len(orders))
        self.subs = [
            ProgressiveSampling(model, num_samples=total, seed=seed + i, order=list(o))
            for i, o in enumerate(orders)
        ]
        self.name = f"psample_multimask_{len(orders)}orders_{num_samples}"
        return self

    def query(self, q: Query) -> float:
        return float(np.mean([s.query(q) for s in self.subs]))


class SampleFromModel(CardEst):
    """Monte-Carlo baseline (reference estimators.py:421-477): draw N full
    tuples from the model, evaluate the predicate on the samples, scale."""

    name = "sample_from_model"

    def __init__(self, model: NaruModel, num_samples: int = 2000, seed: int = 0):
        super().__init__()
        self.model = model
        self.num_samples = num_samples
        self.seed = seed
        self.rng = np.random.RandomState(seed)
        self._samples = self.model.made.sample(num_samples, self.rng)

    def query(self, q: Query) -> float:
        # inclusion-exclusion handles DisjunctiveQuery; conjunctive input
        # is its own single term with coefficient 1
        frac = 0.0
        for coef, t in ie_terms(q):
            masks = predicate_masks(t, self.model.columns, self.model.binnings)
            keep = np.ones(self.num_samples, dtype=np.float64)
            for i, m in enumerate(masks):
                if m is not None:
                    keep *= m[self._samples[:, i]]
            frac += coef * keep.mean()
        frac = min(max(frac, 0.0), 1.0)
        return float(np.ceil(frac * self.model.meta.cardinality))
