"""Evaluation driver: run a workload through estimators, score q-error,
report, and sink results.

Reference (/root/reference/eval_model.py):
- ``Query``/``RunN`` (220-300): per query -> oracle truth -> each estimator
  -> q-error accumulate -> running report; true-card-0 queries skipped
  (238-239).
- ``ReportEsts`` (258-265), ``SaveEstimators`` (450-464): CSV of
  (est_name, err, est_card, true_card, query_dur_ms).

Spark-first difference: truth and batchable estimators run through their
one-pass ``query_batch`` path (one ``mapInArrow`` scan per batch, see
``estimators.exact``) instead of one Spark job per query — the reference's Ray-parallel eval
(eval_model.py:303-375) exists to hide exactly this per-query latency.
"""

from __future__ import annotations

import time

import pandas as pd

from naru_spark.estimators.base import CardEst, q_error
from naru_spark.predicates import Query


def run_workload(
    queries: list[Query],
    oracle: CardEst,
    estimators: list[CardEst],
    true_cards: list[float] | None = None,
    skip_zero_card: bool = True,
) -> pd.DataFrame:
    """Returns a tidy results frame; also accumulates stats on each estimator."""
    if true_cards is None:
        t0 = time.time()
        true_cards = oracle.query_batch(queries)
        oracle.query_dur_ms.append((time.time() - t0) * 1e3 / max(1, len(queries)))

    rows = []
    for est in estimators:
        t0 = time.time()
        ests = est.query_batch(queries)
        per_q_ms = (time.time() - t0) * 1e3 / max(1, len(queries))
        for i, (q, e, t) in enumerate(zip(queries, ests, true_cards)):
            if skip_zero_card and t == 0:
                continue  # eval_model.py:238-239
            err = q_error(e, t)
            est.add_error(err, e, t)
            est.query_dur_ms.append(per_q_ms)
            rows.append(
                {
                    "query_id": i,
                    "est": est.name,
                    "err": err,
                    "est_card": float(e),
                    "true_card": float(t),
                    "query_dur_ms": per_q_ms,
                }
            )
    return pd.DataFrame(rows)


def report(estimators: list[CardEst]) -> pd.DataFrame:
    return pd.DataFrame([e.report() for e in estimators])


def save_results(results: pd.DataFrame, path: str):
    """CSV sink (eval_model.py:450-464)."""
    results.to_csv(path, index=False)


def load_checkpoints(glob_pattern: str, blacklist: str | None = None):
    """Glob checkpoint files and parse their self-describing names
    (reference eval_model.py:480-543 — glob .pt files, regex out metadata,
    build estimators). ``blacklist`` drops any globbed file whose basename
    contains the substring (reference ``--blacklist``, eval_model.py:42,
    481). Returns [(info_dict, NaruModel)] sorted by path."""
    import glob as _glob
    import os

    from naru_spark.model.train import NaruModel, parse_checkpoint_name

    out = []
    for path in sorted(_glob.glob(glob_pattern)):
        name = os.path.basename(path)
        if blacklist and blacklist in name:
            continue
        info = parse_checkpoint_name(name)
        out.append((info, NaruModel.load(path)))
    return out
