"""Golden pins for the training core.

Every training path is pinned bit for bit: ``NaruEstimator.fit`` for four
ResMADE variants and the transformer, warm start for both arches,
``fit_distributed`` for plain ResMADE, mask-cycled ResMADE and the
transformer, and the ``multi_mask_nll`` / ``multi_order_nll`` ensembles.
Each fitted model is reduced to a sha256 of its weights and masks,
``repr(model_bits)`` and a few ProgressiveSampling estimates; each ensemble
to ``repr`` of its NLL plus a digest of the masks it must restore.

The pins are produced in a subprocess with one BLAS thread and a 2-core
Spark: with default BLAS threading the low bits of trained weights depend
on the host's core count, so in-process pins would not be portable.

Regenerate the pins (only for a deliberate change of fitted weights) with
``OPENBLAS_NUM_THREADS=1 OMP_NUM_THREADS=1 SPARK_GRAFT_CPUS=2
PYTHONPATH=. python tests/test_training_golden.py``, which prints them.
"""

import hashlib
import json
import os
import subprocess
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLS = ["l_returnflag", "l_linestatus", "l_linenumber", "l_quantity", "l_discount", "l_tax"]
BASE = dict(hidden=16, blocks=2, max_model_domain=32, epochs=2, batch_size=512, lr=5e-3, seed=0)
NATURAL = list(range(len(COLS)))
REVERSED = NATURAL[::-1]
ENV = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "SPARK_GRAFT_CPUS": "2",
    "SPARK_DRIVER_MEMORY": "1g",
}


def _digest(made) -> str:
    """sha256 over every trained array and connectivity mask, dtype and
    shape included."""
    if hasattr(made, "layers"):
        arrays = [a for l in made.layers() for a in (l.W, l.b, l.M)]
        arrays += [np.asarray(made.hid_deg), np.asarray(made.order)]
    else:
        arrays = [p.v for p in made.params()]
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(f"{a.dtype.str}{a.shape}".encode())
        h.update(a.tobytes())
    return h.hexdigest()


def _queries():
    from naru_spark.predicates import Query

    return [
        Query("lineitem", ["l_returnflag"], ["="], ["R"]),
        Query("lineitem", ["l_quantity", "l_discount"], ["<=", ">="], [20.0, 0.05]),
        Query("lineitem", ["l_linestatus", "l_linenumber", "l_tax"], ["=", ">", "<"], ["O", 2, 0.04]),
    ]


def _model_out(model) -> list:
    from naru_spark.estimators.progressive import ProgressiveSampling

    ps = ProgressiveSampling(model, num_samples=64, seed=0)
    return [_digest(model.made), repr(model.fit_info["model_bits"]), [int(ps.query(q)) for q in _queries()]]


def _run() -> dict:
    """Fit every pinned configuration and return its outputs."""
    import pandas as pd

    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.model.train import NaruEstimator, multi_mask_nll, multi_order_nll
    from naru_spark.session import get_spark
    from tests.conftest import SF_SMOKE

    spark = get_spark("training_golden")
    pdf = pd.read_parquet(os.path.join(SF_SMOKE, "lineitem.parquet"), columns=COLS)
    half = len(pdf) // 2
    # two partitions with a fixed row split, so every shard of
    # fit_distributed sees the same rows on every host
    df = (
        spark.createDataFrame(pdf.iloc[:half]).coalesce(1)
        .union(spark.createDataFrame(pdf.iloc[half:]).coalesce(1))
        .cache()
    )
    enc = DictionaryEncoder(COLS).fit(df)
    meta = enc.table_meta(df, "lineitem")

    def est(**kw):
        return NaruEstimator(COLS, **{**BASE, **kw})

    out, models = {}, {}
    for name, kw in (
        ("fit_binary", {}),
        ("fit_one_hot", {"input_encoding": "one_hot"}),
        ("fit_cycled", {"num_masks": 2, "order_cycle": [NATURAL, REVERSED], "warmups": 10}),
        ("fit_embed_direct", {"input_encoding": "embed", "embed_size": 8, "direct_io": True,
                              "output_encoding": "embed"}),
        ("fit_transformer", {"arch": "transformer"}),
    ):
        models[name] = est(**kw).fit(df, meta, enc)
        out[name] = _model_out(models[name])
    out["warm_binary"] = _model_out(
        est(epochs=1, seed=1).fit(df, meta, enc, warm_start=models["fit_binary"])
    )
    out["warm_transformer"] = _model_out(
        est(epochs=1, seed=1, arch="transformer").fit(
            df, meta, enc, warm_start=models["fit_transformer"]
        )
    )
    out["dist_binary"] = _model_out(est().fit_distributed(df, meta, enc, rounds=2, local_epochs=1))
    out["dist_masks"] = _model_out(est(num_masks=2).fit_distributed(df, meta, enc, rounds=2))
    out["dist_transformer"] = _model_out(
        est(arch="transformer").fit_distributed(df, meta, enc, rounds=2, local_epochs=1)
    )

    bins = enc.transform(df).select(*[f"{c}__bin" for c in COLS]).toPandas().to_numpy(np.int64)
    binnings = models["fit_binary"].binnings
    data = np.stack([binnings[c].encode(bins[:, i]) for i, c in enumerate(COLS)], axis=1)
    # the default entry mask (fit_binary) and a trained non-default one
    # (fit_cycled ends on a resampled mask) must both come back intact
    for name in ("fit_binary", "fit_cycled"):
        made = models[name].made
        before = _digest(made)
        nll = multi_mask_nll(made, data, mask_seeds=[None, 0, 1])
        out[f"mask_nll_{name}"] = [repr(nll), before == _digest(made)]
    out["order_nll_models"] = repr(multi_order_nll([models["fit_binary"], models["fit_one_hot"]], data))
    out["order_nll_orders"] = repr(
        multi_order_nll([models["fit_cycled"]], data, orders=[NATURAL, REVERSED])
    )
    spark.stop()
    return out


PINS = {"dist_binary": ["0230add1b60ce17e0789b116dc436f874eaebc6ff9a9a34985e0ced7c1c7e965",
                 "nan",
                 [1992, 1443, 972]],
 "dist_masks": ["67095e720cf5e98738795f187514df217cca4b172546fd78ea1f5d7691bdc8c4",
                "nan",
                [1963, 1419, 959]],
 "dist_transformer": ["865c854ac83f1a28ba8a9555f7b2f8ec7b210bd3038651dbdb1860e5efe0b62a",
                      "nan",
                      [2403, 1285, 998]],
 "fit_binary": ["3bf786b24857215a6c132dfc1a7090a32ce3c7ab6a60f7b3107096f2252417c0",
                "16.91806634940145",
                [1968, 1444, 985]],
 "fit_cycled": ["02fe08443c5220c390e60b03467602d11e06bec5d5a65148f93d5f3b72a43bd7",
                "16.87782926597307",
                [1925, 1354, 911]],
 "fit_embed_direct": ["5b920c2e22fdc6f0a6307021f6c230c9c4f43bee8096431900a69f9229e1b2f8",
                      "16.895054646367512",
                      [1965, 1362, 927]],
 "fit_one_hot": ["2bef007ee3eeff7c75c21d3613380e5568ee81f2a1cdc14cb02ba167d32d5d03",
                 "16.930469913903085",
                 [1968, 1338, 921]],
 "fit_transformer": ["1511c78dc0c951f2466819e8e702578de2642d2c91cc88bf09c8f0fc3194007c",
                     "16.998322446006288",
                     [2371, 1295, 886]],
 "mask_nll_fit_binary": ["11.712472521464676", True],
 "mask_nll_fit_cycled": ["11.689544758069061", True],
 "order_nll_models": "11.69992107833096",
 "order_nll_orders": "11.6894927000832",
 "warm_binary": ["2877dcec51af57f4e9102a5292c067b90a7b90b6f3fd2cc845f40b6b30233d12",
                 "16.883318710104334",
                 [1981, 1395, 941]],
 "warm_transformer": ["784b8b1b06e1d773341bdecf2d46353b6abea12f64e3da250eedb33fc37c5a16",
                      "16.981551061354274",
                      [1768, 1359, 1006]]}


def test_training_golden():
    env = {**os.environ, **ENV, "PYTHONPATH": REPO}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == PINS


if __name__ == "__main__":
    print(json.dumps(_run(), sort_keys=True))
