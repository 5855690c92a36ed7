"""The benchmark's workloads: inputs, fixed op lists and output checks.

An op is one call into a layer's public functions. A read op returns a
DataFrame, which the runner materializes in full; a write op mutates a
store and returns nothing. Ops run one after another (one closed-loop
client), so a pass's wall time is the sum of its ops.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import numpy as np

from perfbench import gen

# mirex_scan: the catalog's scan-scoring runs over one resampled corpus
MIREX_OPS = ("dirichlet_topk",)
MIREX_DOCS = 20_000
# catalog_mix: one query per family, overhead-dominated
CATALOG_OPS = ("eval_map_pk", "rank_correlation", "rm3_sweep", "mmr_rerank",
               "dedup_minhash_lsh", "simhash_near_dups", "ann_ivf_topk",
               "pq_ann_topk", "event_sessions", "kba_filter_grid", "tpch_q5",
               "curation_pipeline", "langid", "quality_scores",
               "textrank_keywords", "bpe_merges", "sketch_distinct_hll")
CATALOG_DOCS, CATALOG_VECS = 5_000, 2_000
# store_churn: one store, serve + ANN + fold per batch, one compaction;
# the first CHURN_PRE batches are folded into the base store at set-up
CHURN_BASE, CHURN_BATCHES, CHURN_BATCH_DOCS, CHURN_QUERIES = 1_000, 2, 100, 20
CHURN_PRE = 1
ANN_K = 10


@dataclass
class Op:
    name: str
    kind: str                       # "read" | "write"
    layer: str                      # "queries" | "store"
    fn: Callable[[], object]        # read: -> DataFrame, write: -> None


class Workload:
    """Base: subclasses fill ``prepare`` (numpy/pyarrow only, before the
    session starts), ``setup``, ``ops`` and ``check``."""

    name = ""
    min_passes = 1      # timed passes run until --seconds, and at least this many

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir, self.work_dir, self.seed = data_dir, work_dir, seed
        self.spark = None
        self.measures: dict = {}     # workload-specific layer numbers
        self.steps: dict = {}        # set-up step → seconds, for the record
        self.corpus_path = os.path.join(data_dir, "documents.parquet")

    def prepare(self, src: gen.Source) -> dict:
        raise NotImplementedError

    @contextmanager
    def step(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.steps[name] = time.perf_counter() - t0

    def setup(self, spark) -> None:
        self.spark = spark

    def warm_up(self, runner) -> dict:
        """The untimed cold pass; its collected outputs feed ``check``."""
        return runner.run_pass(collect=True)

    def result_rows(self, outputs: dict) -> dict[str, int]:
        """Output rows per read op, from the ``warm_up`` outputs."""
        return {k: len(v) for k, v in outputs.items()}

    def begin_pass(self, idx: int) -> None:
        """Untimed per-pass preparation."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def observe(self, op: Op, before: bool) -> None:
        """Traced runs: called around every op."""

    def check(self, outputs: dict) -> dict[str, str]:
        """Op name → failure description, for every op whose output (as
        collected by ``warm_up``) is wrong. Runs after the timed passes."""
        raise NotImplementedError

    def corpus(self):
        from pyspark.sql import functions as F
        return self.spark.read.parquet(self.corpus_path).select(
            F.col("doc_id").alias("docno"), "text")


class CatalogWorkload(Workload):
    """Catalog queries on a generated sf-layout dir, checked against
    ``catalog.ORACLES`` in DuckDB with the strict canonicalization of
    ``tools/check_oracle.py``."""

    names: tuple = ()
    # the first noop pass after the cold pass runs up to half again slower
    # and varies most, and a single timed pass makes pass_s bimodal
    min_passes = 2

    def setup(self, spark) -> None:
        super().setup(spark)
        from hadoop_ir_spark import catalog
        self.catalog = catalog

    def warm_up(self, runner) -> dict:
        """The untimed cold pass, whose collected outputs feed ``check``,
        then one untimed pass of the timed action."""
        with self.step("cold_pass"):
            outputs = runner.run_pass(collect=True)
        with self.step("warm_pass"):
            runner.run_pass(timed=False)
        return outputs

    def ops(self) -> list[Op]:
        return [Op(n, "read", "queries",
                   lambda n=n: self.catalog.QUERIES[n](self.spark, self.data_dir))
                for n in self.names]

    def check(self, outputs: dict) -> dict[str, str]:
        import duckdb
        from tools.check_oracle import compare, duck_con
        con = duck_con(self.data_dir)
        bad = {}
        try:
            for name, pdf in outputs.items():
                try:
                    want = con.execute(self.catalog.ORACLES[name]).fetchdf()
                except duckdb.Error as ex:
                    bad[name] = f"oracle failed: {ex}"[:500]
                    continue
                problems = compare(name, pdf, want, strict=True)
                if problems:
                    bad[name] = "; ".join(problems)[:500]
        finally:
            con.close()
        return bad


class MirexScan(CatalogWorkload):
    name = "mirex_scan"
    names = MIREX_OPS
    # the first timed pass still runs up to a quarter slower than the
    # next ones; with three passes the median leaves it out
    min_passes = 3

    def prepare(self, src):
        return gen.make_corpus(src, self.data_dir, self.seed, MIREX_DOCS)


class CatalogMix(CatalogWorkload):
    name = "catalog_mix"

    def prepare(self, src):
        order = np.random.default_rng([self.seed, 0]).permutation(len(CATALOG_OPS))
        self.names = tuple(CATALOG_OPS[i] for i in order)
        return gen.make_corpus(src, self.data_dir, self.seed, CATALOG_DOCS,
                               n_vecs=CATALOG_VECS, copy_tables=True)


class StoreChurn(Workload):
    """Writes beside reads on one dedup store. Set-up builds the base
    store and folds the first ``CHURN_PRE`` batches into it, so every
    timed read meets a folded store. Each pass starts from a copy of the
    base store (untimed), then per remaining CDC batch: serve it with
    ``dedup_incremental``, run ``indexed_ann_topk``, fold it in with
    ``update_dedup_index``; one ``compact_dedup_index`` ends the pass."""

    name = "store_churn"

    def prepare(self, src):
        self.sizes = gen.make_churn(src, self.data_dir, self.seed, CHURN_BASE,
                                    CHURN_BATCHES, CHURN_BATCH_DOCS, CHURN_QUERIES)
        self.corpus_path = os.path.join(self.data_dir, "base_docs.parquet")
        return self.sizes

    def _docs(self, name):
        from pyspark.sql import functions as F
        return self.spark.read.parquet(os.path.join(self.data_dir, f"{name}_docs.parquet")
                                       ).select(F.col("doc_id").alias("docno"), "text")

    def _emb(self, name):
        from pyspark.sql import functions as F
        return self.spark.read.parquet(os.path.join(self.data_dir, f"{name}_emb.parquet")
                                       ).select(F.col("vec_id").alias("docno"), "embedding")

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F
        from hadoop_ir_spark.operators import dedup_incremental as dinc
        super().setup(spark)
        self.dinc = dinc
        self.base_dir = os.path.join(self.work_dir, "store_base")
        with self.step("build"):
            dinc.build_dedup_index(self._docs("base"), self.base_dir,
                                   embeddings=self._emb("base"))
        with self.step("train_ann"):
            dinc.train_ann_index(spark, self.base_dir)
        self.measures["build_s"] = self.steps["build"] + self.steps["train_ann"]
        names = [b["name"] for b in self.sizes["batches"] if b["name"] != "probe"]
        self.pre, self.batches = names[:CHURN_PRE], names[CHURN_PRE:]
        with self.step("pre_fold"):
            for b in self.pre:
                dinc.update_dedup_index(spark, self.base_dir, self._docs(b),
                                        new_embeddings=self._emb(b))
        self.queries = spark.read.parquet(os.path.join(self.data_dir, "queries.parquet")
                                          ).select(F.col("vec_id").alias("qid"), "embedding")
        self.store = None

    def warm_up(self, runner) -> dict:
        """Instead of a cold pass: build the one-shot reference store over
        base + all batches and serve the probe batch from it; run the ANN
        serve on the base store. Both outputs feed ``check``."""
        oneshot = os.path.join(self.work_dir, "store_oneshot")
        names = ["base"] + self.pre + self.batches
        docs, emb = self._docs(names[0]), self._emb(names[0])
        for n in names[1:]:
            docs, emb = docs.unionByName(self._docs(n)), emb.unionByName(self._emb(n))
        with self.step("oneshot_build"):
            self.dinc.build_dedup_index(docs, oneshot, embeddings=emb)
        self.oneshot_bytes = {t: gen.dir_bytes(os.path.join(oneshot, t))
                              for t in os.listdir(oneshot)
                              if os.path.isdir(os.path.join(oneshot, t))}
        with self.step("oneshot_serve"):
            out = {"probe@oneshot": self.dinc.dedup_incremental(self._docs("probe"),
                                                                oneshot).toPandas()}
        with self.step("ann_serve"):
            out["ann@base"] = self.dinc.indexed_ann_topk(self.queries, self.base_dir,
                                                         k=ANN_K).toPandas()
        shutil.rmtree(oneshot, ignore_errors=True)
        return out

    def result_rows(self, outputs: dict) -> dict[str, int]:
        docs = {b["name"]: b["docs"] for b in self.sizes["batches"]}
        return {**{f"serve.{b}": docs[b] for b in self.batches},
                **{f"ann.{b}": len(outputs["ann@base"]) for b in self.batches}}

    def begin_pass(self, idx):
        if self.store:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = os.path.join(self.work_dir, f"store_pass{idx}")
        shutil.copytree(self.base_dir, self.store)

    def ops(self) -> list[Op]:
        d, out = self.dinc, []
        for b in self.batches:
            out += [
                Op(f"serve.{b}", "read", "store",
                   lambda b=b: d.dedup_incremental(self._docs(b), self.store)),
                Op(f"ann.{b}", "read", "store",
                   lambda: d.indexed_ann_topk(self.queries, self.store, k=ANN_K)),
                Op(f"fold.{b}", "write", "store",
                   lambda b=b: d.update_dedup_index(self.spark, self.store, self._docs(b),
                                                    new_embeddings=self._emb(b))),
            ]
        out.append(Op("compact", "write", "store",
                      lambda: d.compact_dedup_index(self.spark, self.store)))
        return out

    def observe(self, op: Op, before: bool) -> None:
        """Traced runs only: store sizes around folds and compaction."""
        m = self.measures
        if op.name.startswith("fold.") and before:
            m["_bytes_before"] = gen.dir_bytes(self.store)
        elif op.name.startswith("fold."):
            batch = op.name.partition(".")[2]
            text = next(b["text_bytes"] for b in self.sizes["batches"] if b["name"] == batch)
            m["fold_bytes"] = m.get("fold_bytes", 0) + gen.dir_bytes(self.store) - m.pop("_bytes_before")
            m["fold_text_bytes"] = m.get("fold_text_bytes", 0) + text
        elif op.name == "compact" and before:
            m["files"] = sum(len(f) for _, _, f in os.walk(self.store))
            with open(os.path.join(self.store, self.dinc.MANIFEST), encoding="utf-8") as f:
                m["snapshots"] = len(json.load(f)["snaps"])

    def check(self, outputs: dict) -> dict[str, str]:
        """The store the last timed pass folded and compacted must serve
        the held-out probe batch exactly like the one-shot store, and
        every exact re-crawl of a base doc must serve as ``dropped``;
        every ANN query gets ranks 1..k."""
        bad = {}
        ranks = outputs["ann@base"].groupby("qid")["rank"].apply(sorted)
        if len(ranks) != CHURN_QUERIES or any(r != list(range(1, ANN_K + 1)) for r in ranks):
            bad["ann." + self.batches[0]] = f"queries={len(ranks)}; rank lists not 1..{ANN_K}"
        want = outputs["probe@oneshot"].sort_values("docno").reset_index(drop=True)
        try:
            got = (self.dinc.dedup_incremental(self._docs("probe"), self.store).toPandas()
                   .sort_values("docno").reset_index(drop=True))
        except Exception as ex:  # a broken store is a failed check, not a crash
            bad["compact"] = f"probe serve on the folded store raised {type(ex).__name__}: {ex}"[:500]
            return bad
        probe = next(b for b in self.sizes["batches"] if b["name"] == "probe")
        kept = set(got.loc[got["status"] == "kept", "docno"]) & set(probe["exact_recrawls"])
        if not got.equals(want) or kept or len(got) != probe["docs"]:
            diff = (got.merge(want, on="docno", how="outer", suffixes=("_folded", "_oneshot"))
                    .query("status_folded != status_oneshot"))
            bad["compact"] = (f"probe statuses differ from a one-shot build on {len(diff)} "
                              f"docs; re-crawls kept: {sorted(kept)[:5]}")
        # like for like: the one-shot store has no trained ANN tables
        folded = sum(gen.dir_bytes(os.path.join(self.store, t)) for t in self.oneshot_bytes)
        self.measures["space_amp"] = folded / max(1, sum(self.oneshot_bytes.values()))
        shutil.rmtree(self.store, ignore_errors=True)
        return bad


WORKLOADS = {w.name: w for w in (MirexScan, CatalogMix, StoreChurn)}
