"""Golden pins for the progressive-sampling core.

Everything here is built in numpy, with no Spark session: ResMADE variants,
the ARTransformer KV-cache path, a numpy-fitted sampling BayesNet and
SampleFromModel. Every estimate is ``ceil``ed to an integer, so pinning the
exact ints pins the sampler bit for bit: a refactor of the walk, the mask
builder or the sampling step must leave each of them unchanged.

Regenerate the pins (only for a deliberate change of estimates) with
``PYTHONPATH=. python tests/test_sampling_golden.py``, which prints them.
"""

import numpy as np
import pytest

from naru_spark.encoding import ColumnDictionary
from naru_spark.estimators.bayes import BayesNet
from naru_spark.estimators.progressive import (
    MultiOrderEnsemble,
    ProgressiveSampling,
    SampleFromModel,
)
from naru_spark.meta import TableMeta
from naru_spark.model.binning import ModelBinning
from naru_spark.model.made import Adam, ResMADE
from naru_spark.model.train import NaruModel
from naru_spark.model.transformer import ARTransformer
from naru_spark.predicates import DisjunctiveQuery, Query

COLS = ["a", "b", "c", "d"]
N = 3000
MAX_DOMAIN = 16  # b (41 raw bins incl. NULL) is equal-freq binned to 16


def _table():
    """Correlated raw-bin rows plus their dictionaries. ``b`` has a NULL
    bin and more values than MAX_DOMAIN (fractional boundary masks); ``d``
    is small and last in the default order (the query_weighted column)."""
    rng = np.random.RandomState(0)
    a = rng.randint(0, 8, N)
    b = 1 + a * 5 + rng.randint(0, 5, N)  # raw bins 1..40, bin 0 = NULL
    b[rng.rand(N) < 0.05] = 0
    c = (a + rng.randint(0, 3, N)) % 12
    d = (a % 3 + rng.randint(0, 3, N)) % 5
    data = np.stack([a, b, c, d], axis=1).astype(np.int64)
    dicts = {
        "a": ColumnDictionary("a", np.arange(8, dtype=np.int64), has_null=False),
        "b": ColumnDictionary("b", np.arange(40, dtype=np.int64) * 2, has_null=True),
        "c": ColumnDictionary("c", np.arange(12, dtype=np.float64) + 0.5, has_null=False),
        "d": ColumnDictionary("d", np.arange(5, dtype=np.int64), has_null=False),
    }
    meta = TableMeta("t", [], N, dictionaries=dicts)
    return data, meta


def _q(*preds):
    return Query("t", [p[0] for p in preds], [p[1] for p in preds], [p[2] for p in preds])


QUERIES = [
    _q(("a", "=", 3)),
    _q(("a", "<=", 4), ("b", ">", 20)),
    _q(("b", ">=", 10), ("c", "<", 5.5), ("d", "=", 2)),
    _q(("a", "in", [1, 2, 5]), ("c", ">", 1.5)),
    _q(("b", ">=", 8), ("b", "<", 30)),  # repeated column: masks intersect
    _q(("a", "=", 1), ("a", "=", 2)),  # contradiction: every path vanishes
    _q(("c", "=", 100.0)),  # out-of-domain literal
    _q(("d", ">=", 3), ("a", ">", 0)),
    _q(("b", "<", 50), ("c", ">=", 3.5)),
]
DISJ = [
    DisjunctiveQuery("t", [_q(("a", "=", 2)), _q(("c", ">=", 8.5))]),
    DisjunctiveQuery("t", [_q(("b", "<", 10)), _q(("b", ">", 60), ("a", ">=", 6))]),
]
# queries that leave the weight column ``d`` unfiltered
WEIGHTED = [q for q in QUERIES if "d" not in q.cols]
W_VEC = 1.0 / (1.0 + np.arange(5))

MADE_VARIANTS = {
    "binary": {},
    "one_hot": {"input_encoding": "one_hot"},
    "float32": {"dtype": np.float32},
    "masking": {"column_masking": True},
    "order": {"order": [2, 0, 1, 3]},  # keeps d last for query_weighted
}


def _binned(data, meta):
    binn = {c: ModelBinning(meta.dictionaries[c], MAX_DOMAIN) for c in COLS}
    enc = np.stack([binn[c].encode(data[:, i]) for i, c in enumerate(COLS)], axis=1)
    return binn, enc


def _fit_made(kw, enc, domains):
    made = ResMADE(domains, hidden=32, blocks=2, seed=1, **kw)
    opt = Adam(made, lr=5e-3)
    rng = np.random.RandomState(2)
    for _ in range(2):
        perm = rng.permutation(N)
        for lo in range(0, N, 500):
            b = enc[perm[lo : lo + 500]]
            _, dl = made.nll(made.forward(b), b)
            made.zero_grad()
            made.backward(dl)
            opt.step()
    return made


def _model(variant):
    data, meta = _table()
    binn, enc = _binned(data, meta)
    domains = [binn[c].model_size for c in COLS]
    if variant == "transformer":
        made = ARTransformer(domains, d_model=16, d_ff=32, n_heads=2, blocks=2, seed=3)
    else:
        made = _fit_made(MADE_VARIANTS[variant], enc, domains)
    return NaruModel(made, binn, meta, COLS)


def _estimates(variant):
    model = _model(variant)
    ps = ProgressiveSampling(model, num_samples=200, seed=7)
    seq = [int(ps.query(q)) for q in QUERIES]
    out = {
        "query": seq,
        "batch": [int(e) for e in ps.query_batch(QUERIES, threads=4)],
        "disj": [int(ps.query(q)) for q in DISJ],
    }
    out["weighted"] = [int(ps.query_weighted(q, "d", W_VEC)) for q in WEIGHTED]
    if variant == "binary":
        ens = MultiOrderEnsemble.from_single_model(
            model, [[0, 1, 2, 3], [3, 1, 0, 2]], num_samples=200, seed=4
        )
        out["multiorder"] = [int(ens.query(q)) for q in QUERIES[:4]]
        assert list(model.made.order) == [0, 1, 2, 3]  # pins are restored
    if variant != "transformer":
        sfm = SampleFromModel(model, num_samples=500, seed=3)
        samples = sfm._samples
        sizes = [model.binnings[c].model_size for c in COLS]
        assert ((samples >= 0) & (samples < np.array(sizes))).all()
        out["sfm"] = [int(sfm.query(q)) for q in QUERIES + DISJ]
        out["sfm_colsums"] = [int(s) for s in samples.sum(axis=0)]
    return out


def _bn_estimates():
    data, meta = _table()
    bn = BayesNet(data, meta, COLS, max_model_domain=MAX_DOMAIN, num_samples=200, seed=5)
    return {"query": [int(bn.query(q)) for q in QUERIES + DISJ]}


GOLDEN = {'bayesnet': {'query': [422, 1035, 328, 998, 781, 0, 0, 874, 1115, 796, 939]},
         'binary': {'batch': [389, 1292, 297, 1003, 781, 0, 0, 738, 1464],
                    'disj': [1046, 475],
                    'multiorder': [408, 1314, 248, 1014],
                    'query': [389, 1292, 297, 1003, 781, 0, 0, 738, 1464],
                    'sfm': [444, 1334, 270, 1050, 804, 0, 0, 726, 1458, 1026, 404],
                    'sfm_colsums': [1713, 3927, 2786, 946],
                    'weighted': [169, 550, 417, 333, 0, 0, 622]},
         'float32': {'batch': [389, 1292, 297, 1003, 781, 0, 0, 738, 1464],
                     'disj': [1046, 475],
                     'query': [389, 1292, 297, 1003, 781, 0, 0, 738, 1464],
                     'sfm': [444, 1334, 270, 1050, 804, 0, 0, 726, 1458, 1026, 404],
                     'sfm_colsums': [1713, 3927, 2786, 946],
                     'weighted': [169, 550, 417, 333, 0, 0, 622]},
         'masking': {'batch': [389, 1267, 347, 992, 784, 0, 0, 805, 1409],
                     'disj': [991, 485],
                     'query': [389, 1267, 347, 992, 784, 0, 0, 805, 1409],
                     'sfm': [444, 1298, 348, 1026, 791, 0, 0, 768, 1419, 1074, 432],
                     'sfm_colsums': [1713, 3865, 2733, 941],
                     'weighted': [171, 561, 420, 353, 0, 0, 631]},
         'one_hot': {'batch': [389, 1269, 420, 984, 765, 0, 0, 721, 1388],
                     'disj': [1013, 541],
                     'query': [389, 1269, 420, 984, 765, 0, 0, 721, 1388],
                     'sfm': [444, 1302, 468, 1021, 778, 0, 0, 768, 1389, 972, 468],
                     'sfm_colsums': [1713, 3819, 2567, 931],
                     'weighted': [192, 547, 401, 325, 0, 0, 606]},
         'order': {'batch': [397, 1239, 349, 921, 851, 0, 0, 790, 1339],
                   'disj': [1195, 479],
                   'query': [397, 1239, 349, 921, 851, 0, 0, 790, 1339],
                   'sfm': [342, 1193, 378, 1026, 932, 0, 0, 786, 1398, 1158, 468],
                   'sfm_colsums': [1841, 3843, 2677, 933],
                   'weighted': [166, 525, 386, 367, 0, 0, 571]},
         'transformer': {'batch': [183, 796, 450, 721, 850, 0, 0, 506, 1604],
                         'disj': [832, 946],
                         'query': [183, 796, 450, 721, 850, 0, 0, 506, 1604],
                         'weighted': [72, 349, 292, 399, 0, 0, 712]}}


@pytest.mark.parametrize("variant", list(MADE_VARIANTS) + ["transformer"])
def test_progressive_sampling_golden(variant):
    got = _estimates(variant)
    assert got["batch"] == got["query"]
    assert got == GOLDEN[variant]


def test_bayesnet_sampling_golden():
    assert _bn_estimates() == GOLDEN["bayesnet"]


if __name__ == "__main__":
    import pprint

    res = {v: _estimates(v) for v in list(MADE_VARIANTS) + ["transformer"]}
    res["bayesnet"] = _bn_estimates()
    pprint.pprint(res, width=100, compact=True)
