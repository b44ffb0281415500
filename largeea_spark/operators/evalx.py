"""Alignment evaluation: Hits@k, truncated MRR, accuracy, P/R/F1
(SURVEY.md W4/W5/W6, A13).

Reference formulas reproduced:
- ``sparse_acc`` (`eval.py:133-148`): row-argmax prediction == gold,
  averaged over ALL gold links (links whose src has no prediction count
  as misses).
- ``get_hit_k`` (`eval.py:8-29`): fraction of links whose gold dst is
  among the k best-ranked entries of the src row.
- ``truncated_mrr`` (`eval.py:168-180`): 0-based rank of gold within the
  stored top-k entries; absent → rank := fail (default n_src/2);
  MRR = mean(1/(rank+1)).
- seed P/R/F1 (`models/rrea/rrea.py:213-232`): set-intersection counts.

All of these are joins + one aggregation over the long-format sim IR —
no dense materialization (the reference densifies in 512-row batches,
`eval.py:202-216`; Spark needs no batching).

Documented deviation (sparse-row padding): the reference densifies each
row batch, so ``torch.topk`` pads rows having fewer than k STORED
entries with zero-valued columns — a gold dst with no stored entry can
still land in the reference's top-k of such a row (at an arbitrary
position among the ties at 0). The engine ranks only stored entries and
counts those golds as ``fail_rank`` misses — a small, systematically
PESSIMISTIC bias on sparse rows (never optimistic), inert under the
metric-tolerance gating of SURVEY.md §7.4.7 and nonexistent when every
row carries ≥k entries (the kNN channels always emit exactly k).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from . import simops
from .simops import DST, SIM, SRC


def accuracy(sim: DataFrame, links: DataFrame) -> float:
    """`sparse_acc` (`eval.py:133-148`). ``links``: DataFrame(e1, e2)."""
    pred = simops.argmax(sim, SRC).select(F.col(SRC).alias("e1"), F.col("argmax").alias("p"))
    total = links.count()
    if total == 0:
        return 0.0
    hit = links.join(pred, "e1", "left").where(F.col("p") == F.col("e2")).count()
    return hit / total


def hits_and_mrr(
    sim: DataFrame, links: DataFrame, ks: tuple = (1, 5, 50), fail_rank: int | None = None,
    n_src: int | None = None,
) -> dict:
    """`sparse_top_k` (`eval.py:202-220`): Hits@k for each k plus
    truncated MRR, computed in ONE pass over ranked entries.

    ``links``: DataFrame(e1, e2) gold pairs. ``fail_rank`` defaults to
    n_src/2 (`eval.py:170-172`); ``n_src`` defaults to 1+max(src)."""
    kmax = max(ks)
    ranked = simops.rank_per_row(simops.topk_per_row(sim, kmax, SRC), SRC)
    gold = links.select(F.col("e1").alias(SRC), F.col("e2").alias(DST))
    joined = gold.join(ranked.select(SRC, DST, "rank"), [SRC, DST], "left")
    if fail_rank is None:
        if n_src is None:
            n_src = (sim.agg(F.max(SRC)).first()[0] or 0) + 1
        fail_rank = int(n_src / 2)
    # reference rank is 0-based with fail substituted, MRR=mean(1/(rank+1)).
    # Aggregated as an integer histogram of the 1-based rank (null = gold
    # absent from the top-k) and summed in Python with fsum (exactly
    # rounded, so no summation order): a distributed avg of doubles adds
    # in partition order, and the same rows in another file layout could
    # move MRR in the last digit.
    hist = {r["rank"]: r["count"] for r in joined.groupBy("rank").count().collect()}
    total = sum(hist.values())
    if total == 0:
        # zero gold links: report 0.0 (cf. sparse_acc empty-denominator
        # behavior, eval.py:133-148)
        return {"MRR": 0.0, **{f"hits@{k}": 0.0 for k in ks}}
    out = {"MRR": math.fsum(c / (fail_rank + 1 if rank is None else rank)
                            for rank, c in hist.items()) / total}
    for k in ks:
        out[f"hits@{k}"] = sum(c for rank, c in hist.items()
                               if rank is not None and rank <= k) / total
    return out


def precision_recall_f1(pred_pairs: DataFrame, gold_pairs: DataFrame,
                        cols: tuple = ("e1", "e2")) -> dict:
    """A13 / triple-parity shape (`models/rrea/rrea.py:213-232`):
    P/R/F1 of a predicted pair set vs a gold pair set. Also used for the
    north rule's emitted-triple P/R ≥ 0.95 check (3-col tuples)."""
    c = list(cols)
    p = pred_pairs.select(*c).distinct()
    g = gold_pairs.select(*c).distinct()
    tp = p.join(g, c, "inner").count()
    np_, ng = p.count(), g.count()
    prec = tp / np_ if np_ else 0.0
    rec = tp / ng if ng else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"precision": prec, "recall": rec, "f1": f1, "tp": tp, "pred": np_, "gold": ng}
