"""``corpus_prep``: the nightly LLM corpus batch.

Each pass runs ``prepare_corpus(near_dup=True)`` (exact dedup, MinHash
near-dup dedup, quality features and filters) and then
``decontaminate`` against an eval set, over a seeded synthetic corpus
with planted exact duplicates, near duplicates (one or two words
changed) and passages copied from the eval set. It makes no call into
``docs.*`` or ``streaming.*``.

Checks, computed in Python apart from the engine: each planted
duplicate group keeps exactly its minimum id; near-duplicate recall
against Jaccard over word 3-shingles is at least ``MIN_RECALL`` and
nothing outside the planted duplicates is removed; the decontaminated
set is exactly the kept set minus the documents that share a word
5-gram with the eval set.
"""

from __future__ import annotations

import random

from common import mean, summary_ms

BASE_DOCS = 800
WORDS = 60
EXACT_GROUPS = 30
NEAR_DUPS = 30
EVAL_DOCS = 20
CONTAMINATED = 25
WARM_DOCS = 120
NEAR_THRESHOLD = 0.5
MIN_RECALL = 0.95
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def shingles(text: str, n: int) -> set:
    toks = text.split(" ")
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / max(len(sa | sb), 1)


def make_inputs(seed: int) -> dict:
    """Rows ``(doc_id, text)``; planted structure on disjoint bases."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(4000)]

    def sentence(n):
        return " ".join(rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(vocab) for _ in range(n))

    base = [(i, sentence(WORDS) + ".") for i in range(BASE_DOCS)]
    evals = [sentence(40) for _ in range(EVAL_DOCS)]
    rows = list(base)
    next_id = BASE_DOCS
    groups, near = [], []
    for g in range(EXACT_GROUPS):
        ids = [g]
        for _ in range(rng.randint(1, 2)):
            rows.append((next_id, base[g][1]))
            ids.append(next_id)
            next_id += 1
        groups.append(ids)
    for k in range(NEAR_DUPS):
        b = EXACT_GROUPS + k
        toks = base[b][1].split(" ")
        for j in rng.sample(range(len(toks) - 1), rng.randint(1, 2)):
            toks[j] = f"x{k}n{j}"
        rows.append((next_id, " ".join(toks)))
        near.append((b, next_id))
        next_id += 1
    for k in range(CONTAMINATED):
        b = EXACT_GROUPS + NEAR_DUPS + k
        ev = evals[rng.randrange(EVAL_DOCS)].split(" ")
        start = rng.randrange(len(ev) - 12)
        toks = base[b][1].split(" ")
        at = rng.randrange(len(toks))
        rows[b] = (b, " ".join(toks[:at] + ev[start:start + 12] + toks[at:]))
    rng.shuffle(rows)
    return {"rows": rows, "evals": evals, "groups": groups, "near": near}


def check_prepare(ck, rows, kept: set, groups, near) -> float:
    """Compare a prepare_corpus result with the planted structure;
    returns near-duplicate recall."""
    ids = {i for i, _ in rows}
    text = dict(rows)
    removable = set()
    for g in groups:
        present = [i for i in g if i in ids]
        if len(present) > 1:
            ok = min(present) in kept and not (set(present) - {min(present)}) & kept
            ck.check(f"exact group {g}", ok, f"kept {sorted(set(present) & kept)}")
            removable |= set(present) - {min(present)}
    hits = total = 0
    for b, v in near:
        if b in ids and v in ids and jaccard(text[b], text[v]) >= NEAR_THRESHOLD:
            total += 1
            hits += v not in kept and b in kept
            removable.add(v)
    recall = hits / total if total else 1.0
    ck.check("near-dup recall", recall >= MIN_RECALL, f"{recall:.3f}")
    extra = (ids - kept) - removable
    ck.check("nothing else removed", not extra and kept <= ids, f"{sorted(extra)[:10]}")
    return recall


def expected_clean(rows, kept: set, evals) -> set:
    ev = set()
    for e in evals:
        ev |= shingles(e, 5)
    return {i for i, t in rows if i in kept and not (shingles(t, 5) & ev)}


class CorpusPrep:
    name = "corpus_prep"

    def __init__(self, spark, tracer, checker, seed: int, run_dir: str):
        self.spark, self.tr, self.ck = spark, tracer, checker
        self.inp = make_inputs(seed)
        self.passes: list[tuple[float, float]] = []  # (prepare_s, decontam_s) in the window
        self.recall: list[float] = []
        self.timing = False

    def load(self):
        sp = self.spark
        rows = self.inp["rows"]
        self.df = sp.createDataFrame(rows, "doc_id long, text string").localCheckpoint(eager=False)
        self.warm_rows = rows[:WARM_DOCS]
        self.warm_df = sp.createDataFrame(self.warm_rows, "doc_id long, text string").localCheckpoint(eager=False)
        self.eval_df = sp.createDataFrame(list(enumerate(self.inp["evals"])), "doc_id long, text string").localCheckpoint(eager=False)

    def warm_up(self):
        self.one_pass(self.warm_df, self.warm_rows)

    def round(self, r: int):
        self.one_pass(self.df, self.inp["rows"])

    def one_pass(self, df, rows):
        from dataworks_spark.llm.pipeline import CorpusConfig, decontaminate, prepare_corpus

        def prep():
            with self.tr.span("corpus.prepare") as sp:
                kept_df = prepare_corpus(df, config=CorpusConfig(near_dup=True)).localCheckpoint()
                kept = {r["doc_id"] for r in kept_df.select("doc_id").collect()}
            return kept_df, kept, sp["seconds"]

        out = self.ck.op("prepare_corpus", prep)
        if out is None:
            return
        kept_df, kept, prep_s = out
        self.recall.append(check_prepare(self.ck, rows, kept, self.inp["groups"], self.inp["near"]))

        def decon():
            with self.tr.span("corpus.decontaminate") as sp:
                clean = {r["doc_id"] for r in decontaminate(kept_df, self.eval_df).select("doc_id").collect()}
            return clean, sp["seconds"]

        out = self.ck.op("decontaminate", decon)
        if out is None:
            return
        clean, dec_s = out
        want = expected_clean(rows, kept, self.inp["evals"])
        self.ck.check("decontaminate", clean == want, f"{len(clean)} != {len(want)}")
        if self.timing:
            self.passes.append((prep_s, dec_s))

    def finish(self):
        """Per-stage decomposition for the traced run: the public
        functions prepare_corpus composes, each timed on its own."""
        if not self.tr.enabled:
            return
        from pyspark.sql import functions as F

        from dataworks_spark.llm.dedup import exact_dedup_keepers, minhash_near_dup_pairs
        from dataworks_spark.llm.text import language_scores, quality_features, repetition_features

        df = self.df
        with self.tr.span("corpus.exact"):
            keepers = exact_dedup_keepers(df, "text", "doc_id").select(F.col("keeper_id").alias("doc_id"))
            deduped = df.join(keepers, on="doc_id", how="left_semi").localCheckpoint()
        with self.tr.span("corpus.near_dup"):
            self.dup_pairs = minhash_near_dup_pairs(deduped, "doc_id", "text", threshold=NEAR_THRESHOLD).count()
        with self.tr.span("corpus.candidates"):
            self.candidates = minhash_near_dup_pairs(deduped, "doc_id", "text", threshold=0.0).count()
        with self.tr.span("corpus.features"):
            text = F.col("text")
            q = quality_features(text)
            rep = repetition_features(text)
            feats = deduped.select(
                q["n_tokens"].alias("n"),
                q["quality_score"].alias("qs"),
                rep["dup_3gram_ratio"].alias("rep"),
                F.size(F.map_keys(language_scores(text))).alias("langs"),
            )
            feats.agg(F.sum("n"), F.sum("qs"), F.sum("rep"), F.sum("langs")).collect()

    def close(self):
        pass

    def results(self, window_s: float) -> tuple[dict, dict]:
        n_docs = len(self.inp["rows"]) * len(self.passes)
        ops = [s for p in self.passes for s in p]
        e2e = {"op_mean_ms": mean(ops) * 1000, "docs_per_s": n_docs / window_s}
        diag = {
            "prepare": summary_ms([p[0] for p in self.passes]),
            "decontaminate": summary_ms([p[1] for p in self.passes]),
            "near_dup_recall": self.recall,
            "docs": len(self.inp["rows"]),
        }
        return e2e, diag

    def layer_metrics(self) -> dict:
        tr = self.tr

        def ms(name):
            return mean(s["seconds"] for s in tr.find(name)) * 1000

        timed_decon = tr.find("corpus.decontaminate")[1:]  # the first is the warm-up
        return {
            "corpus.exact_ms": (ms("corpus.exact"), "ms"),
            "corpus.near_dup_ms": (ms("corpus.near_dup"), "ms"),
            "corpus.features_ms": (ms("corpus.features"), "ms"),
            "corpus.decontam_ms": (mean(s["seconds"] for s in timed_decon) * 1000, "ms"),
            "corpus.candidate_pairs": (float(self.candidates), "count"),
            "corpus.dup_pairs": (float(self.dup_pairs), "count"),
            "corpus.pair_precision": (self.dup_pairs / max(self.candidates, 1), "ratio"),
        }
