"""Chow-Liu tree Bayesian-network estimator.

Reference ``estimators.py:680-997`` (/root/reference): structure-learned BN
(chow-liu via pomegranate there), optional re-discretization of large
domains (683-740), progressive sampling over a topological order (846-997).
pomegranate/pgmpy are not in this environment, so the Chow-Liu algorithm is
implemented directly (public algorithm: maximum-spanning tree over pairwise
mutual information, Chow & Liu 1968).

Spark-first: pairwise MI is expressible as one ``groupBy(ci, cj).count()``
per pair (``pairwise_mi_spark``) — shuffle bounded by the joint domain, the
100 TB path. At test scale the default build computes MI from the same
bounded encoded sample the other model estimators use (identical numbers,
no D^2 Spark jobs). Domains are bounded by the same equal-freq
``ModelBinning`` + fractional predicate masks as the AR model — mirroring
the reference's BN discretization (estimators.py:683-740).

Inference = progressive sampling over the tree in topological order with
per-column masked conditionals — same estimator calculus as
ProgressiveSampling, with CPDs instead of a neural net.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from naru_spark.estimators.base import CardEst
from naru_spark.meta import TableMeta
from naru_spark.model.binning import ModelBinning, predicate_masks
from naru_spark.model.made import sample_step
from naru_spark.predicates import Query


def mutual_information(joint_counts: np.ndarray) -> float:
    """MI in nats from a 2-D contingency table."""
    n = joint_counts.sum()
    if n == 0:
        return 0.0
    pxy = joint_counts / n
    px = pxy.sum(axis=1, keepdims=True)
    py = pxy.sum(axis=0, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = pxy * (np.log(pxy) - np.log(px) - np.log(py))
    return float(np.nansum(t))


def pairwise_mi_spark(df: DataFrame, ci: str, cj: str) -> float:
    """MI of two columns via one groupBy job (the 100 TB path: reduce side
    is the joint domain, never the row count)."""
    pdf = df.groupBy(ci, cj).agg(F.count("*").alias("cnt")).toPandas()
    pivot = pdf.pivot_table(index=ci, columns=cj, values="cnt", fill_value=0, aggfunc="sum")
    return mutual_information(pivot.to_numpy(dtype=np.float64))


def model_bin_df(
    df_raw_bins: DataFrame, binnings: dict[str, "ModelBinning"], columns: list[str]
) -> DataFrame:
    """Map raw-bin columns (``{c}__bin``, DictionaryEncoder output) to
    MODEL-bin columns (``{c}__mbin``) on the executors: the per-column
    raw->model lookup arrays are broadcast once and applied by an
    Arrow-batched pandas UDF (a numpy gather per batch — no per-row
    Python). This is what lets the full-table Spark MI path aggregate over
    the bounded model-bin domain instead of raw domains."""
    spark = df_raw_bins.sparkSession
    bc = spark.sparkContext.broadcast({c: binnings[c].raw_to_model for c in columns})

    def lut(col_name: str):
        @F.pandas_udf("int")
        def f(s: pd.Series) -> pd.Series:
            arr = bc.value[col_name]
            return pd.Series(arr[s.to_numpy(dtype=np.int64)])

        return f

    out = df_raw_bins
    for c in columns:
        out = out.withColumn(f"{c}__mbin", lut(c)(F.col(f"{c}__bin")))
    return out.select(*[f"{c}__mbin" for c in columns])


def chow_liu_tree(mi: np.ndarray, root: int = 0) -> list[tuple[int, int]]:
    """Maximum spanning tree via Prim; returns (parent, child) edges rooted
    at ``root`` (the reference's ``root=`` knob to pomegranate
    from_samples, estimators.py:742-772 — the MST is root-free, but the
    root choice decides CPD direction and sampling order)."""
    D = mi.shape[0]
    in_tree = {root}
    edges: list[tuple[int, int]] = []
    while len(in_tree) < D:
        best = (-1.0, None)
        for u in in_tree:
            for v in range(D):
                if v not in in_tree and mi[u, v] > best[0]:
                    best = (mi[u, v], (u, v))
        assert best[1] is not None
        u, v = best[1]
        edges.append((u, v))
        in_tree.add(v)
    return edges


def greedy_parent_tree(mi: np.ndarray) -> list[tuple[int, int]]:
    """K2-style greedy structure (the reference's pomegranate
    ``algorithm='greedy'`` analog, estimators.py:742-833, restricted to
    max_parents=1 so exact tree inference still applies): visit columns in
    natural order, each picks the single earlier column with maximal MI as
    its parent. Always a tree rooted at column 0 — generally different
    from the Chow-Liu MST, which is order-free."""
    D = mi.shape[0]
    edges: list[tuple[int, int]] = []
    for v in range(1, D):
        u = int(np.argmax(mi[:v, v]))
        edges.append((u, v))
    return edges


def greedy_parent_dag(mi: np.ndarray, max_parents: int) -> dict[int, tuple]:
    """K2-style greedy DAG with up to ``max_parents`` earlier columns per
    node (the reference's pomegranate greedy shape — its eval driver fits
    ``max_parents=2``, eval_model.py:386): column v takes the top-k
    earlier columns by pairwise MI (ties broken by index; zero-MI
    candidates contribute nothing and are skipped). Parents always
    precede children in natural order, so 0..D-1 IS a topological
    order."""
    D = mi.shape[0]
    parents: dict[int, tuple] = {0: ()}
    for v in range(1, D):
        cand = sorted(range(v), key=lambda u: (-mi[u, v], u))
        parents[v] = tuple(sorted(
            u for u in cand[:max_parents] if mi[u, v] > 1e-12
        ))
    return parents


_VE_FACTOR_CAP = 50_000_000  # entries; ~400 MB of float64 — fail loudly

# Reusable product buffer for variable_elimination, per thread (queries run
# on the driver; a thread-local keeps any concurrent callers safe). Bounded
# by _VE_FACTOR_CAP entries — the elimination raises before ever asking for
# more. Grown geometrically so a sweep of mixed-size queries settles on one
# allocation.
_VE_SCRATCH = threading.local()


def _ve_scratch(n: int) -> np.ndarray:
    buf = getattr(_VE_SCRATCH, "buf", None)
    if buf is None or buf.size < n:
        # growth target clamped to the cap (ADVICE r15): the doubling
        # heuristic must not transiently allocate ~2x the cap when
        # successive queries straddle a near-cap size
        grow = max(n, 2 * (buf.size if buf is not None else 0))
        buf = np.empty(min(grow, max(n, _VE_FACTOR_CAP)))
        _VE_SCRATCH.buf = buf
    return buf[:n]


def min_fill_order(factors: list) -> list:
    """Elimination order by the MIN-FILL heuristic (standard VE ordering,
    e.g. Koller & Friedman §9.4.3): repeatedly eliminate the variable
    whose removal adds the fewest fill-in edges to the interaction graph,
    breaking ties by smaller induced-factor size, then variable index.

    Reverse-topological order (the previous default) is optimal for
    max_parents <= 2 — every induced factor stays within a moral-graph
    clique — but at max_parents >= 3 it can needlessly multiply large
    CPDs together before summing: eliminating a HUB variable early joins
    all its children's parent sets into one induced factor. Min-fill
    eliminates leaf-like, low-connectivity variables first, keeping
    induced factors near the treewidth bound. O(D^3) on the driver for
    D = #columns — negligible next to the factor arithmetic."""
    import itertools

    adj: dict = {}
    dom: dict = {}
    for fv, arr in factors:
        for v, n in zip(fv, arr.shape):
            dom[v] = n
            adj.setdefault(v, set())
        for u in fv:
            adj[u].update(w for w in fv if w != u)
    order = []
    remaining = set(adj)
    while remaining:
        best = None
        for x in sorted(remaining):
            nbrs = adj[x] & remaining
            fill = sum(
                1 for u, w in itertools.combinations(sorted(nbrs), 2)
                if w not in adj[u]
            )
            size = dom[x]
            for u in nbrs:
                size *= dom[u]
            key = (fill, size, x)
            if best is None or key < best[0]:
                best = (key, x, nbrs)
        _, x, nbrs = best
        order.append(x)
        remaining.discard(x)
        for u in nbrs:
            adj[u].update(w for w in nbrs if w != u)
    return order


def ve_order_stats(factors: list, order) -> tuple:
    """Simulated ``(max_induced_size, total_cost)`` of eliminating
    ``order`` over the factors' VARIABLE SETS (array-free): total cost is
    the sum over eliminations of (number of participating factors) x
    (induced product size) — the broadcast multiplies
    ``variable_elimination`` actually performs — and max_induced_size is
    the largest single induced factor, the quantity ``_VE_FACTOR_CAP``
    polices. Factor structure is query-invariant for a fitted BN (masks
    change values, never shapes), so candidate orders are costed once
    per structure."""
    dom: dict = {}
    sets = []
    for fv, arr in factors:
        for v, n in zip(fv, arr.shape):
            dom[v] = n
        sets.append(frozenset(fv))
    cost = 0
    max_size = 0
    for x in order:
        related = [s for s in sets if x in s]
        if not related:
            continue
        sets = [s for s in sets if x not in s]
        vars_all = frozenset().union(*related)
        size = 1
        for v in vars_all:
            size *= dom[v]
        cost += size * len(related)
        max_size = max(max_size, size)
        sets.append(vars_all - {x})
    return max_size, cost


def ve_order_cost(factors: list, order) -> int:
    """Total simulated work of ``order`` (see ``ve_order_stats``)."""
    return ve_order_stats(factors, order)[1]


def variable_elimination(factors: list, elim_order) -> float:
    """Sum-product VARIABLE ELIMINATION over discrete factors — the
    engine behind exact inference on multi-parent greedy structures
    (the reference's pgmpy ``VariableElimination``, estimators.py:
    885-886, reimplemented from the public algorithm). ``factors`` is a
    list of ``(vars tuple, ndarray)`` with one axis per variable in
    order; eliminating x multiplies every factor containing x (axes
    aligned by broadcasting) and sums x out. With max_parents=2 and an
    elimination order that is reverse-topological the induced factors
    stay at most 2-variable (tiny cliques); a pathological blow-up past
    ``_VE_FACTOR_CAP`` entries raises instead of thrashing."""
    factors = list(factors)
    for x in elim_order:
        related = [f for f in factors if x in f[0]]
        if not related:
            continue
        factors = [f for f in factors if x not in f[0]]
        vars_all: list = sorted(set().union(*(set(f[0]) for f in related)))
        dom = {}
        for fv, arr in related:
            for v, n in zip(fv, arr.shape):
                dom[v] = n
        size = 1
        for v in vars_all:
            size *= dom[v]
        if size > _VE_FACTOR_CAP:
            raise ValueError(
                f"variable elimination induced a factor of {size} "
                "entries — domain too large for exact inference; use "
                "the sampling path"
            )
        aligned = []
        for fv, arr in related:
            perm = [fv.index(v) for v in vars_all if v in fv]
            a = np.transpose(arr, perm)
            shape = [dom[v] if v in fv else 1 for v in vars_all]
            aligned.append(a.reshape(shape))
        if len(aligned) == 1:
            prod = aligned[0]
        else:
            # product accumulated IN PLACE into a reusable per-thread
            # scratch buffer: the old progressive `prod * a` allocated a
            # fresh union-shape array at every growth step — on a
            # treewidth-3 elimination that is repeated ~130 MB
            # allocations per query, and freshly mmap'd pages fault in
            # at the OS's pace (measured: the FIRST two 16M-entry
            # broadcast products cost 12.6 s + 22 s on a cold arena vs
            # 50-300 ms once pages are warm). One buffer, faulted once
            # per process, serves every elimination. Per-element values
            # are bit-identical: the same left-to-right multiply chain,
            # just written into a held buffer.
            full_shape = tuple(dom[v] for v in vars_all)
            prod = _ve_scratch(size).reshape(full_shape)
            np.copyto(prod, aligned[0])
            for a in aligned[1:]:
                np.multiply(prod, a, out=prod)
        axis = vars_all.index(x)
        rest = tuple(v for v in vars_all if v != x)
        factors.append((rest, prod.sum(axis=axis)))
    out = 1.0
    for fv, arr in factors:
        out *= float(np.asarray(arr).reshape(-1).sum()) if fv else float(arr)
    return out


class BayesNet(CardEst):
    name = "bayesnet"

    def __init__(
        self,
        data: np.ndarray,
        meta: TableMeta,
        columns: list[str],
        max_model_domain: int = 256,
        num_samples: int = 512,
        seed: int = 0,
        laplace: float = 1.0,
        spark_df: DataFrame | None = None,
        structure: str = "chow_liu",
        inference: str = "sampling",
        root: int = 0,
        max_parents: int = 1,
    ):
        """data: [N, D] dictionary-encoded (raw-bin) sample rows.

        spark_df: optional DataFrame of the SAME raw-bin columns
        (``{c}__bin``, DictionaryEncoder.transform output). When given,
        pairwise MI for the Chow-Liu structure is computed with the
        distributed groupBy path (``pairwise_mi_spark`` over
        ``model_bin_df``) instead of the driver-side sample — D*(D-1)/2
        jobs whose shuffle is bounded by the joint model-bin domain, the
        100 TB route. CPDs still come from the bounded sample (D-1 small
        tables). Both MI paths agree exactly when spark_df holds the same
        rows as ``data`` (asserted in tests/test_baselines.py)."""
        super().__init__()
        assert structure in ("chow_liu", "greedy"), structure
        assert inference in ("sampling", "exact"), inference
        assert 0 <= root < len(columns), root
        assert max_parents >= 1, max_parents
        # multi-parent structures come from the greedy K2-style search
        # only (Chow-Liu is a tree by definition)
        assert max_parents == 1 or structure == "greedy", (
            "max_parents > 1 requires structure='greedy'"
        )
        # greedy visits columns in natural order, so its tree is anchored
        # at column 0 by construction (root only re-routes the MST)
        assert root == 0 or structure == "chow_liu", "root requires chow_liu"
        self.root = root
        self.meta = meta
        self.columns = columns
        self.num_samples = num_samples
        self.seed = seed
        self.structure = structure
        self.inference = inference
        self.max_parents = max_parents
        tag = "chowliu" if structure == "chow_liu" else "greedy"
        if structure == "greedy" and max_parents > 1:
            tag += str(max_parents)
        if root != 0:
            tag += f"_r{root}"
        self.name = (
            f"bn_{tag}_exact" if inference == "exact" else f"bn_{tag}_{num_samples}"
        )
        self.binnings = {
            c: ModelBinning(meta.dictionaries[c], max_model_domain) for c in columns
        }
        D = len(columns)
        enc = np.stack(
            [self.binnings[c].encode(data[:, i]) for i, c in enumerate(columns)], axis=1
        )
        sizes = [self.binnings[c].model_size for c in columns]

        # pairwise MI: distributed groupBy path when a DataFrame is given,
        # else from the driver-side sample
        mi = np.zeros((D, D))
        if spark_df is not None:
            mbin = model_bin_df(spark_df, self.binnings, columns).cache()
            for i in range(D):
                for j in range(i + 1, D):
                    mi[i, j] = mi[j, i] = pairwise_mi_spark(
                        mbin, f"{columns[i]}__mbin", f"{columns[j]}__mbin"
                    )
            mbin.unpersist()
        else:
            for i in range(D):
                for j in range(i + 1, D):
                    joint = np.zeros((sizes[i], sizes[j]))
                    np.add.at(joint, (enc[:, i], enc[:, j]), 1.0)
                    mi[i, j] = mi[j, i] = mutual_information(joint)
        if structure == "greedy" and max_parents > 1:
            # K2-style DAG: parents precede children in natural order,
            # so 0..D-1 is already topological
            self.parents = greedy_parent_dag(mi, max_parents)
            self.edges = [
                (u, v) for v in range(D) for u in self.parents[v]
            ]
            self.topo = list(range(D))
        else:
            self.edges = (
                chow_liu_tree(mi, root) if structure == "chow_liu"
                else greedy_parent_tree(mi)
            )
            self.parents = {v: () for v in range(D)}
            for u, v in self.edges:
                self.parents[v] = (u,)
            # topological order (root first, then BFS over edges)
            order = [root]
            added = {root}
            while len(order) < D:
                for u, v in self.edges:
                    if u in added and v not in added:
                        order.append(v)
                        added.add(v)
            self.topo = order
        # single-parent view for tree structures; None on multi-parent
        # DAGs (a last-edge-wins dict there would be a silent trap)
        self.parent = (
            None if any(len(p) > 1 for p in self.parents.values())
            else {v: u for u, v in self.edges}
        )
        # VE elimination order, chosen lazily at first exact query
        # (cheaper of reverse-topo / min-fill by simulated work)
        self._elim_order = None

        # CPDs with Laplace smoothing: P(v | parents(v)) as an array with
        # one leading axis per parent; parentless nodes get the marginal
        self.cpd: dict[int, np.ndarray] = {}
        for v in range(D):
            ps = self.parents[v]
            if not ps:
                counts = np.bincount(
                    enc[:, v], minlength=sizes[v]
                ).astype(np.float64)
                self.cpd[v] = (counts + laplace) / (
                    counts.sum() + laplace * sizes[v]
                )
                continue
            shape = tuple(sizes[p] for p in ps) + (sizes[v],)
            n_cells = int(np.prod(shape))
            if n_cells > 200_000_000:
                raise ValueError(
                    f"CPD for column {columns[v]!r} needs {n_cells} "
                    "cells — lower max_model_domain or max_parents"
                )
            joint = np.zeros(shape)
            np.add.at(
                joint, tuple(enc[:, p] for p in ps) + (enc[:, v],), 1.0
            )
            joint += laplace
            self.cpd[v] = joint / joint.sum(axis=-1, keepdims=True)

    @classmethod
    def shared_fit(
        cls,
        fitted: "BayesNet",
        inference: str = "sampling",
        num_samples: int = 512,
        seed: int = 0,
    ) -> "BayesNet":
        """A second estimator over the SAME fitted structure/CPDs without
        re-fitting (guide §1.2: don't compute things twice) — the report
        entries pair an exact-inference and a sampling-inference estimator
        on one structure, and the fit (encode + pairwise MI + CPTs over
        the 100k-row sample) is deterministic given the constructor args,
        so re-running it produced byte-identical arrays. Shallow-copies
        the fitted state (read-only at query time: CPDs/binnings/masks are
        never mutated by inference), overrides only the inference-mode
        knobs, resets the per-instance CardEst telemetry lists (a shallow
        copy would otherwise SHARE them) and the lazily-chosen
        ``_elim_order``. Query results are bit-identical to a fresh
        construction with the same arguments."""
        import copy

        assert inference in ("sampling", "exact"), inference
        self = copy.copy(fitted)
        CardEst.__init__(self)  # fresh telemetry lists, not shared ones
        self.inference = inference
        self.num_samples = num_samples
        self.seed = seed
        self._elim_order = None  # re-chosen lazily, exactly as a fresh fit
        tag = "chowliu" if self.structure == "chow_liu" else "greedy"
        if self.structure == "greedy" and self.max_parents > 1:
            tag += str(self.max_parents)
        if self.root != 0:
            tag += f"_r{self.root}"
        self.name = (
            f"bn_{tag}_exact" if inference == "exact" else f"bn_{tag}_{num_samples}"
        )
        return self

    def query_exact(self, q: Query) -> float:
        return float(np.ceil(self._sel_exact_ie(q) * self.meta.cardinality))

    def _sel_exact_ie(self, q) -> float:
        from naru_spark.predicates import ie_terms

        sel = sum(coef * self._sel_exact(t) for coef, t in ie_terms(q))
        return min(max(sel, 0.0), 1.0)

    def _sel_exact(self, q: Query) -> float:
        """EXACT P(predicate) under the fitted tree — belief-propagation
        sum-product in one bottom-up pass (the reference's pgmpy
        VariableElimination path, estimators.py:846-997, specialized to
        trees where elimination order = reverse topological):

            m_v(x_parent) = sum_{x_v} mask_v(x_v) P(x_v | x_parent)
                                       * prod_{w in children(v)} m_w(x_v)

        Root closes the telescope: p = sum_x0 mask_0(x_0) P(x_0) prod m.
        No sampling noise — the cross-check that gates the sampling path."""
        if any(
            len(self.parents[v]) != 1
            for v in range(len(self.columns)) if v != self.root
        ):
            # multi-parent OR disconnected (a zero-MI greedy node with
            # no parent): the tree message-passing below assumes every
            # non-root node has exactly one parent — a parentless
            # non-root's message would silently drop its mask factor —
            # so anything else goes through generic VE
            return self._sel_exact_ve(q)
        masks = predicate_masks(q, self.columns, self.binnings)
        children: dict[int, list[int]] = {}
        for u, v in self.edges:
            children.setdefault(u, []).append(v)
        # reverse topological: every child's message exists before its parent
        msg: dict[int, np.ndarray] = {}
        root = self.root
        for v in reversed(self.topo):
            vec = np.ones(self.cpd[v].shape[-1] if v != root else self.cpd[root].shape[0])
            if masks[v] is not None:
                vec = vec * masks[v]
            for w in children.get(v, []):
                vec = vec * msg[w]
            if v == root:
                return float(self.cpd[root] @ vec)
            msg[v] = self.cpd[v] @ vec  # [dom_parent]
        raise AssertionError("topo order did not end at the root")

    def _sel_exact_ve(self, q: Query) -> float:
        """EXACT P(predicate) on a MULTI-PARENT greedy DAG — generic
        sum-product variable elimination (the reference's pgmpy
        ``VariableElimination`` path for non-tree structures,
        estimators.py:885-886): each node contributes one factor
        P(v | parents) with its predicate mask folded into the v axis;
        the elimination order is the CHEAPER of reverse-topological and
        min-fill by simulated total work (``ve_order_cost``), cached per
        fitted structure: reverse-topo is optimal up to max_parents=2
        (min-fill's different order measurably multiplies more there),
        while min-fill keeps induced factors near the treewidth bound
        when hub variables would blow reverse-topo up at
        max_parents >= 3."""
        masks = predicate_masks(q, self.columns, self.binnings)
        # Barren-node pruning (the reference engine's own rule: pgmpy's
        # VariableElimination prunes leaf nodes outside query∪evidence
        # before eliminating): P(mask) marginalizes every node OUTSIDE the
        # ancestral closure of the masked columns to exactly 1
        # (sum_v P(v|pa) = 1 for every parent configuration), so only the
        # closure's CPD factors enter the elimination. Without this, every
        # query pays the FULL structure's treewidth — measured 64^4 = 16.7M-
        # entry (128 MB) induced factors per query on the sf0.1 greedy DAG,
        # where a typical 3-column query's closure stays at 64^3.
        D = len(self.columns)
        masked = {v for v in range(D) if masks[v] is not None}
        if not masked:
            return 1.0  # P(true): every factor marginalizes to 1
        keep: set[int] = set()
        stack = list(masked)
        while stack:
            v = stack.pop()
            if v in keep:
                continue
            keep.add(v)
            stack.extend(self.parents[v])
        # Masked-axis slicing: a predicate mask zeroes bins, and a zeroed
        # bin contributes exactly 0 to every downstream product-sum — so
        # drop those positions from EVERY factor axis indexed by v before
        # eliminating (the v-axis of its own CPD and the parent axes of
        # its children's CPDs). An equality predicate collapses a 64-wide
        # axis to 1; the 64^4-entry induced factors the full-width
        # elimination paid become 64^2-scale for typical workload queries.
        # Exact: only provably-zero terms are dropped (fractional mask
        # values survive on the kept positions).
        slices: dict[int, np.ndarray] = {}
        for v in masked:
            nz = np.flatnonzero(masks[v])
            if len(nz) < len(masks[v]):
                slices[v] = nz
        factors = []
        for v in sorted(keep):
            arr = self.cpd[v]
            ps = self.parents[v]
            for axis, p in enumerate(ps):
                if p in slices:
                    arr = np.take(arr, slices[p], axis=axis)
            if masks[v] is not None:
                m = masks[v]
                if v in slices:
                    arr = np.take(arr, slices[v], axis=-1)
                    m = m[slices[v]]
                arr = arr * m  # broadcasts over the v (last) axis
            factors.append((tuple(ps) + (v,), arr))
        if self._elim_order is None:
            # structure (vars per factor, domain sizes) is query-invariant
            # — choose once per fitted BN (lazily: tests monkeypatch
            # parents/cpds between fit and first query). Cap violation
            # dominates the key: a total-cost-cheaper order whose single
            # largest induced factor exceeds _VE_FACTOR_CAP would RAISE
            # where the other candidate answers. Kept (and still chosen on
            # the FULL factor set) as the stable structure-level order the
            # closure orders below fall back on.
            full_factors = [
                (tuple(self.parents[v]) + (v,), self.cpd[v]) for v in range(D)
            ]

            def _key_full(order):
                max_size, cost = ve_order_stats(full_factors, order)
                return (max_size > _VE_FACTOR_CAP, cost)

            self._elim_order = min(
                (list(reversed(self.topo)), min_fill_order(full_factors)),
                key=_key_full,
            )
        # Per-query order choice (driver-side microseconds on D<=16 next
        # to the factor arithmetic it schedules): the same selection
        # policy as the structure-level order, run on the reduced, sliced
        # factor set — its shapes differ per query, so the simulated
        # costs do too. Candidates: the structure order restricted to the
        # closure, reverse-topo restricted, and min-fill recomputed on
        # the sliced factors.
        def _key(order):
            max_size, cost = ve_order_stats(factors, order)
            return (max_size > _VE_FACTOR_CAP, cost)

        order = min(
            (
                [v for v in self._elim_order if v in keep],
                [v for v in reversed(self.topo) if v in keep],
                min_fill_order(factors),
            ),
            key=_key,
        )
        return variable_elimination(factors, order)

    def query(self, q) -> float:
        """Disjunctions (predicates.DisjunctiveQuery) expand by
        inclusion-exclusion into conjunctive terms — each term reuses the
        per-column mask-product machinery (predicate_masks intersects
        repeated columns), selectivities combine BEFORE the final ceil."""
        from naru_spark.predicates import ie_terms

        if self.inference == "exact":
            return self.query_exact(q)
        sel = sum(coef * self._sel_sampled(t) for coef, t in ie_terms(q))
        return float(np.ceil(min(max(sel, 0.0), 1.0) * self.meta.cardinality))

    def _sel_sampled(self, q: Query) -> float:
        rng = np.random.RandomState(self.seed)
        S = self.num_samples
        D = len(self.columns)
        masks = predicate_masks(q, self.columns, self.binnings)

        samples = np.zeros((S, D), dtype=np.int64)
        p = np.ones(S, dtype=np.float64)
        for v in self.topo:
            ps = self.parents[v]
            if not ps:
                probs = np.tile(self.cpd[v][None, :], (S, 1))
            else:
                probs = self.cpd[v][tuple(samples[:, p] for p in ps)]
            samples[:, v] = sample_step(probs, masks[v], p, rng)
        return float(p.mean())
