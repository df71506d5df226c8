"""Model-domain binning: bound per-column domains before AR modeling.

The reference's MADE runs on GPU and affords 10^4..10^5-way softmaxes per
column (made.py:645-674 output heads sized by DistributionSize). This numpy
rebuild bounds each column's *model* domain via equal-frequency binning of
the dictionary — the same re-discretization the reference applies to its
Bayes-net estimator for large domains (estimators.py:683-740,
``discretize_table``, equal_freq).

Semantics:
- raw bin 0 (NULL) always maps to model bin 0 alone, so NULL-never-matches
  survives binning.
- A predicate maps to a FRACTIONAL mask over model bins:
  mask_m = (#matching raw bins in m) / (#raw bins in m) — the uniform-spread
  assumption inside a bucket (same as MaxDiff, estimators.py:1342-1374),
  which is exact for bins fully inside/outside the range and approximate
  only at the two boundary bins. Binning is monotone, so the matching raw
  bins of a range predicate (``ColumnDictionary.bin_range``) overlap each
  model bin in one run, and the mask is computed from the range ends
  without touching the raw domain.
- ``predicate_masks`` turns a conjunctive query into one such mask per model
  column (None = wildcard); repeated columns intersect by mask product.
"""

from __future__ import annotations

import numpy as np

from naru_spark.encoding import ColumnDictionary


class ModelBinning:
    """raw-bin <-> model-bin mapping for one column."""

    def __init__(self, dictionary: ColumnDictionary, max_domain: int = 1024):
        self.dictionary = dictionary
        raw_size = dictionary.distribution_size
        has_null = dictionary.has_null
        n_values = raw_size - int(has_null)
        if raw_size <= max_domain:
            # identity
            self.raw_to_model = np.arange(raw_size, dtype=np.int32)
            self.model_size = raw_size
        else:
            usable = max_domain - int(has_null)
            # equal-count split of the sorted value bins
            splits = np.linspace(0, n_values, usable + 1).astype(np.int64)
            value_codes = np.searchsorted(splits, np.arange(n_values), side="right") - 1
            value_codes = np.clip(value_codes, 0, usable - 1)
            if has_null:
                self.raw_to_model = np.concatenate(
                    [[0], value_codes.astype(np.int32) + 1]
                ).astype(np.int32)
            else:
                self.raw_to_model = value_codes.astype(np.int32)
            self.model_size = usable + int(has_null)
        self.bin_counts = np.bincount(self.raw_to_model, minlength=self.model_size).astype(
            np.float64
        )

    def encode(self, raw_bins: np.ndarray) -> np.ndarray:
        return self.raw_to_model[np.asarray(raw_bins, dtype=np.int64)]

    def predicate_mask(self, op: str, val) -> np.ndarray:
        """Fractional model-bin mask for ``col <op> val`` (NULL bin = 0):
        the share of each model bin's raw bins that match.

        ``raw_to_model`` is non-decreasing, so model bin ``m`` holds the raw
        bins ``[ends[m] - bin_counts[m], ends[m])`` and its hits are its
        overlap with the predicate's ``bin_range`` — O(model_size), with
        the same integer counts over the same ``bin_counts`` as a
        ``bincount`` of the raw mask. ``'in'`` counts its matching bins.
        """
        if op == "in":
            hits = np.bincount(
                self.raw_to_model[self.dictionary.in_bins(val)], minlength=self.model_size
            )
        else:
            lo, hi = self.dictionary.bin_range(op, val)
            ends = self.bin_counts.cumsum()
            hits = np.maximum(np.minimum(ends, hi) - np.maximum(ends - self.bin_counts, lo), 0.0)
        return hits / self.bin_counts


def predicate_masks(q, columns: list[str], binnings: dict[str, ModelBinning]) -> list:
    """Per-column fractional model-bin masks of conjunctive query ``q``,
    aligned to ``columns``; None for unfiltered (wildcard) columns. Several
    predicates on one column INTERSECT by mask product."""
    masks: list[np.ndarray | None] = [None] * len(columns)
    for c, op, v in zip(q.cols, q.ops, q.vals):
        i = columns.index(c)
        m = binnings[c].predicate_mask(op, v)
        masks[i] = m if masks[i] is None else masks[i] * m
    return masks
