"""The benchmark's workloads: seeded input generation, the timed job
through the engine's public entry points, and the output checks.

Every workload has three steps:

- ``setup(spark, seed)``: generate the inputs from the seed, ingest
  them and materialise them (``localCheckpoint``); returns the inputs
  the job reads (the job never sees the generator).
- ``job(spark, inputs, store_dir)``: the timed call into
  ``largeea_spark.plans.pipeline`` (and ``operators.dedup``) until all
  outputs are persisted.
- ``check(inputs, out)``: raises ``CheckFailed`` when an output is
  wrong, else returns the quality metrics.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F

#: share of gold links used for training (the reference's first-20% cut)
TRAIN_RATIO = 0.2
#: near-dup Jaccard threshold of the web_kg dedup step
DEDUP_THRESHOLD = 0.8
#: triple precision / recall floor (BASELINE.json)
TRIPLE_PR_FLOOR = 0.95


class CheckFailed(AssertionError):
    """An output of the job is wrong."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _materialise(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# KG alignment: align_small
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class AlignWorkload:
    n_ents: int
    n_triples: int
    n_links: int
    it_rounds: int
    k_parts: int
    #: final fused CSLS Hits@1 below this fails the run
    hits1_csls_floor: float

    def setup(self, spark: SparkSession, seed: int) -> dict:
        from largeea_spark.sources import fixtures
        from largeea_spark.sources.kg import KG, KGPair, encode_graph, encode_links

        t1, t2, links, _ = fixtures.two_kg_fixture(
            spark, n_ents=self.n_ents, n_triples=self.n_triples,
            n_links=self.n_links, seed=seed,
        )
        kgs = []
        for raw in (t1, t2):
            kg = encode_graph(raw)
            kgs.append(KG(ent=_materialise(kg.ent), rel=_materialise(kg.rel),
                          triples=_materialise(kg.triples)))
        lk = _materialise(encode_links(links, kgs[0].ent, kgs[1].ent, TRAIN_RATIO))
        return {
            "pair": KGPair(kg1=kgs[0], kg2=kgs[1], links=lk),
            "raw": (t1, t2),
            "n_test": self.n_links - int(self.n_links * TRAIN_RATIO),
        }

    def job(self, spark: SparkSession, inputs: dict, store_dir: str) -> dict:
        from largeea_spark.plans.pipeline import align_kg_pair
        from largeea_spark.sources.stage import StageStore

        return align_kg_pair(spark, inputs["pair"], StageStore(spark, store_dir),
                             it_rounds=self.it_rounds, k_parts=self.k_parts)

    def check(self, inputs: dict, out: dict) -> dict:
        from largeea_spark.operators.evalx import precision_recall_f1

        pair = inputs["pair"]
        test = pair.links.where(F.col("split") == "test").select("e1")
        n_test = test.count()
        _require(n_test == inputs["n_test"],
                 f"{n_test} test links, expected {inputs['n_test']}")
        scored = test.join(
            out["fused"].select(F.col("src").alias("e1")).distinct(), "e1", "left_semi"
        ).count()
        _require(scored == n_test,
                 f"{n_test - scored} of {n_test} test links have no candidates")
        m = out["metrics"]
        hits1_csls = m["fused_csls"]["hits@1"]
        _require(hits1_csls >= self.hits1_csls_floor,
                 f"hits1_csls {hits1_csls:.4f} < floor {self.hits1_csls_floor}")
        # the ingested graphs, decoded back to URIs, against the
        # generator's triples
        def decoded(kg):
            return (kg.triples
                    .join(kg.ent.select(F.col("id").alias("src"), F.col("uri").alias("s")), "src")
                    .join(kg.rel.select(F.col("id").alias("rel"), F.col("uri").alias("p")), "rel")
                    .join(kg.ent.select(F.col("id").alias("dst"), F.col("uri").alias("o")), "dst"))

        t1, t2 = inputs["raw"]
        prf = precision_recall_f1(decoded(pair.kg1).unionByName(decoded(pair.kg2)),
                                  t1.unionByName(t2), cols=("s", "p", "o"))
        _require(min(prf["precision"], prf["recall"]) >= TRIPLE_PR_FLOOR,
                 f"ingested triple P/R {prf['precision']:.4f}/{prf['recall']:.4f}")
        return {"hits1": m["fused"]["hits@1"], "hits1_csls": hits1_csls,
                "mrr_csls": m["fused_csls"]["MRR"], "triple_f1": prf["f1"]}


# ---------------------------------------------------------------------------
# Web-page KG construction: web_kg
# ---------------------------------------------------------------------------

def _trigrams(text: str) -> set[str]:
    """Word 3-gram set, the tokenization ``ngram_jaccard_pairs`` uses."""
    toks = text.split()
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def near_dup_copies(pages: list[dict], n_copies: int, seed: int) -> list[dict]:
    """``n_copies`` near-duplicates of distinct pages, under new URLs.

    Three kinds, in turn: an exact mirror, a mirror with doubled
    whitespace (a different byte string, the same tokens), and a copy
    with one word appended. Every copy is verified to stay at Jaccard
    >= ``DEDUP_THRESHOLD`` with its source page, so the number of
    survivors after dedup is exactly ``len(pages)``."""
    rng = random.Random(seed * 1_000_003 + 7)
    sources = sorted(rng.sample(range(len(pages)), n_copies))
    copies = []
    for j, i in enumerate(sources):
        src = pages[i]
        kind = j % 3
        if kind == 0:
            text = src["text"]
        elif kind == 1:
            text = src["text"].replace(" ", "  ")
        else:
            text = src["text"] + " Updated"
        a, b = _trigrams(src["text"]), _trigrams(text)
        if len(a & b) / len(a | b) < DEDUP_THRESHOLD:
            raise ValueError(f"copy of page {i} is not a near-duplicate")
        title, body = text.split("\n", 1)
        url = f"https://mirror{j % 7}.example.net/{src['url'].rsplit('/', 1)[1]}"
        copies.append({
            "url": url,
            "warc_ts": src["warc_ts"] + timedelta(days=1),
            "html": f"<html><body><h1>{title}</h1><p>{body}</p></body></html>".encode(),
            "text": text,
            "lang": src["lang"],
            "source": i,
        })
    return copies


@dataclass(frozen=True)
class WebKGWorkload:
    n_pages: int
    n_copies: int

    def setup(self, spark: SparkSession, seed: int) -> dict:
        import pandas as pd

        from largeea_spark.sources.fixtures import page_rows

        pages, gold, _ = page_rows(self.n_pages, seed)
        copies = near_dup_copies(pages, self.n_copies, seed)
        rows = [{"doc_id": i, **p} for i, p in enumerate(pages)]
        rows += [{"doc_id": self.n_pages + j,
                  **{k: v for k, v in c.items() if k != "source"}}
                 for j, c in enumerate(copies)]
        docs = spark.createDataFrame(
            pd.DataFrame(rows),
            schema="doc_id long, url string, warc_ts timestamp, html binary, "
                   "text string, lang string",
        )
        links = pd.DataFrame({
            "e1": [self.n_pages + j for j in range(len(copies))],
            "e2": [c["source"] for c in copies],
        })
        gold_df = pd.DataFrame(gold, columns=["subj", "pred", "obj"]).drop_duplicates()
        return {
            "docs": _materialise(docs),
            "gold": spark.createDataFrame(gold_df),
            "copy_links": spark.createDataFrame(links),
            "n_survivors": self.n_pages,
        }

    def job(self, spark: SparkSession, inputs: dict, store_dir: str) -> dict:
        from largeea_spark.operators.dedup import dedup_keep_from_pairs, ngram_jaccard_pairs
        from largeea_spark.plans.pipeline import construct_kg_from_pages
        from largeea_spark.sources.stage import StageStore

        docs = inputs["docs"]
        store = StageStore(spark, store_dir)
        pairs = store.checkpoint(
            "near_dup_pairs", lambda: ngram_jaccard_pairs(docs, threshold=DEDUP_THRESHOLD))
        survivors = store.checkpoint(
            "dedup_survivors", lambda: dedup_keep_from_pairs(docs, pairs))
        out = construct_kg_from_pages(spark, survivors, store)
        return {**out, "pairs": pairs, "survivors": survivors}

    def check(self, inputs: dict, out: dict) -> dict:
        from largeea_spark.operators import evalx, simops

        kept = out["survivors"].agg(F.count("*").alias("n"),
                                    F.max("doc_id").alias("hi")).first()
        _require(kept.n == inputs["n_survivors"],
                 f"{kept.n} pages survived dedup, expected {inputs['n_survivors']}")
        _require(kept.hi < inputs["n_survivors"], "a near-dup copy survived dedup")
        prf = evalx.precision_recall_f1(out["surface"], inputs["gold"],
                                        cols=("subj", "pred", "obj"))
        _require(min(prf["precision"], prf["recall"]) >= TRIPLE_PR_FLOOR,
                 f"triple P/R {prf['precision']:.4f}/{prf['recall']:.4f}")
        # near-dup linking scored like alignment: does each copy rank its
        # source page first among its Jaccard partners?
        p = out["pairs"]
        sim = p.select(F.col("b").alias("src"), F.col("a").alias("dst"),
                       F.col("jaccard").alias("sim")).unionByName(
            p.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                     F.col("jaccard").alias("sim")))
        links = inputs["copy_links"]
        n_src = inputs["n_survivors"] + links.count()
        raw = evalx.hits_and_mrr(sim, links, ks=(1,), n_src=n_src)
        csls = evalx.hits_and_mrr(simops.csls_rescore(sim, k=10), links, ks=(1,),
                                  n_src=n_src)
        return {"hits1": raw["hits@1"], "hits1_csls": csls["hits@1"],
                "mrr_csls": csls["MRR"], "triple_f1": prf["f1"]}


WORKLOADS = {
    "align_small": AlignWorkload(n_ents=500, n_triples=1500, n_links=400,
                                 it_rounds=1, k_parts=4, hits1_csls_floor=0.85),
    "web_kg": WebKGWorkload(n_pages=18200, n_copies=1820),
}
