"""The benchmark's workloads: seeded inputs, one repeatable unit of engine
work, and the correctness checks on its outputs.

A *unit* is the work one closed-loop client waits for:

- batch: one cold ``DedupPipeline.run`` into a fresh checkpoint root, plus
  the final materialization of the component table;
- incremental: ``IncrementalDedup.process_batch`` of one fixed batch
  against a store restored (untimed) from the same pristine copy, so every
  unit does identical work and the store never grows across units.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from procstat import dir_bytes

# Corpus shapes. Batch: base files (40% of them get a planted copy of one
# of five kinds), one exact-duplicate boilerplate cluster, and one
# near-identical family bigger than DedupConfig.bucket_cap (64), so its
# MinHash buckets take the salted mid tier.
BATCH_BASE_FILES = 100
BATCH_BOILERPLATE = 24
BATCH_NEAR_FAMILY = 66
# Incremental: one corpus, split into a store and an appended batch.
INCR_BASE_FILES = 500
INCR_BOILERPLATE = 40
INCR_BATCH_FILES = 200
INCR_PLANTED = 100
INCR_BOILERPLATE_IN = 10


def write_parquet(pdf, path: str, parts: int) -> None:
    """Write generated inputs as ``parts`` parquet files without Spark, so
    every Spark job of a run is the engine's own."""
    os.makedirs(path)
    n = len(pdf)
    for i in range(parts):
        pdf.iloc[i * n // parts:(i + 1) * n // parts].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False
        )


@dataclass
class Unit:
    wall_s: float
    # compared against the first unit's: identical work, identical result
    outcome: object
    ckpt_bytes: int
    root: str
    detail: dict = field(default_factory=dict)


class BatchSkewed:
    """Cold pipeline runs over a duplicate-heavy corpus with a hot bucket."""

    name = "batch_skewed"
    # a unit takes 10-18 s; a warm-up unit or a third timed one would not
    # fit the run-time budget
    warmup_units = 0
    min_units = 2

    def __init__(self, seed: int, work: str, spark, cfg):
        from spaczz_spark.sources.corpus import generate_corpus

        self.work, self.spark, self.cfg = work, spark, cfg
        self.bundle = generate_corpus(
            n_files=BATCH_BASE_FILES,
            seed=seed,
            boilerplate_cluster=BATCH_BOILERPLATE,
            near_family=BATCH_NEAR_FAMILY,
        )
        files = self.bundle.files
        self.n_files = len(files)
        self.input_bytes = int(files["content"].str.encode("utf-8").str.len().sum())
        self.input_path = os.path.join(work, "files.parquet")
        self._n = 0

    def write_inputs(self) -> None:
        write_parquet(self.bundle.files, self.input_path,
                      self.spark.sparkContext.defaultParallelism)

    def build_state(self) -> None:
        """The batch engine keeps no state between runs."""

    def files(self):
        return self.spark.read.parquet(self.input_path)

    def run_unit(self) -> Unit:
        from pyspark.sql import functions as F

        from spaczz_spark.plans.pipeline import DedupPipeline

        self._n += 1
        root = os.path.join(self.work, f"ckpt{self._n}")
        t0 = time.perf_counter()
        pipe = DedupPipeline(self.spark, self.cfg, root)
        comps = pipe.run(self.files())
        rows, n_comp = comps.select(
            F.count(F.lit(1)), F.countDistinct("component_id")
        ).first()
        wall = time.perf_counter() - t0
        outcome = (rows, n_comp, pipe.metrics["verified_pairs_rows"])
        return Unit(wall, outcome, dir_bytes(root), root,
                    {"pipe": pipe, "components": comps})

    def discard(self, unit: Unit) -> None:
        shutil.rmtree(unit.root, ignore_errors=True)

    def quality(self, unit: Unit) -> dict:
        """Pair recall/precision against the planted truth and the sha256
        invariant, on one unit's committed output (untimed)."""
        pipe, comps = unit.detail["pipe"], unit.detail["components"]
        truth_pairs = self.spark.createDataFrame(self.bundle.truth_pairs)
        truth_comps = self.spark.createDataFrame(self.bundle.truth_components)
        prf = pipe.pair_prf(comps, truth_pairs, truth_comps)
        sha_ok = pipe.sha_invariant_holds(self.files(), comps)
        ok = sha_ok and prf["recall"] >= 0.99
        return {
            "ok": ok,
            "pair_recall": prf["recall"],
            "pair_precision": prf["precision"],
            "truth_pairs": int(pipe.metrics["truth_pairs"]),
            "sha_invariant": sha_ok,
        }


class IncrementalAppend:
    """One fixed batch appended to a prebuilt signature store."""

    name = "incremental_append"
    # after the cold unit, walls can keep falling for three more units
    # (e.g. 5.1, 3.6, 3.0, 2.6, 2.5 s) as the JVM compiles; without this
    # warm-up, whether the deadline allowed 3 or 4 timed units moved the
    # median by ~25 %
    warmup_units = 3
    min_units = 3

    def __init__(self, seed: int, work: str, spark, cfg):
        from spaczz_spark.sources.corpus import file_key, generate_corpus

        self.work, self.spark, self.cfg = work, spark, cfg
        bundle = generate_corpus(
            n_files=INCR_BASE_FILES, seed=seed,
            boilerplate_cluster=INCR_BOILERPLATE,
        )
        files = bundle.files
        keys = [file_key(r.repo, r.path, r.commit) for r in files.itertuples()]
        tp = bundle.truth_pairs
        # The batch is chosen by kind, not sampled, so every seed appends
        # the same mix: the planted copies of the first INCR_PLANTED pairs
        # (equal shares of exact, near_high, near_low, reordered and
        # substring — generate_corpus cycles the kinds), INCR_BOILERPLATE_IN
        # boilerplate members, and unique files for the rest. The originals
        # stay in the store.
        cycled = tp[tp["kind"] != "boilerplate"].head(INCR_PLANTED)
        boiler = tp[tp["kind"] == "boilerplate"].head(INCR_BOILERPLATE_IN)
        in_pairs = set(tp["a_key"]) | set(tp["b_key"])
        batch_keys = set(cycled["b_key"]) | set(boiler["b_key"])
        unique = [k for k in keys if k not in in_pairs]
        batch_keys |= set(unique[: INCR_BATCH_FILES - len(batch_keys)])
        mask = [k in batch_keys for k in keys]
        self.batch_pd = files[mask].reset_index(drop=True)
        self.store_pd = files[[not m for m in mask]].reset_index(drop=True)
        self.n_files = len(self.batch_pd)
        self.input_bytes = int(
            self.batch_pd["content"].str.encode("utf-8").str.len().sum()
        )
        # every planted pair touching the batch, of every kind — the
        # MinHash-only incremental path cannot see `substring` plants, and
        # that miss is part of what the recall reports
        self.truth = [
            (a, b) for a, b in zip(tp["a_key"], tp["b_key"])
            if a in batch_keys or b in batch_keys
        ]
        self.component_of = dict(
            zip(bundle.truth_components["file_key"],
                bundle.truth_components["component_key"])
        )
        self.batch_path = os.path.join(work, "batch.parquet")
        self.store_path = os.path.join(work, "store_files.parquet")
        self.pristine = os.path.join(work, "store_pristine")
        self.live = os.path.join(work, "store_live")
        self.key_of: dict[int, str] = {}

    def write_inputs(self) -> None:
        k = self.spark.sparkContext.defaultParallelism
        write_parquet(self.store_pd, self.store_path, k)
        write_parquet(self.batch_pd, self.batch_path, k)

    def build_state(self) -> None:
        """Ingest the store corpus as the first batch of an empty store."""
        from spaczz_spark.streaming.incremental import IncrementalDedup

        IncrementalDedup(self.spark, self.cfg, self.pristine).process_batch(
            self.spark.read.parquet(self.store_path)
        )

    def store_rows(self) -> int:
        return self.spark.read.parquet(
            os.path.join(self.pristine, "signatures")
        ).count()

    def files(self):
        return self.spark.read.parquet(self.batch_path)

    def run_unit(self) -> Unit:
        from spaczz_spark.streaming.incremental import IncrementalDedup

        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)
        before = dir_bytes(self.live)
        t0 = time.perf_counter()
        verified = IncrementalDedup(self.spark, self.cfg, self.live).process_batch(
            self.files()
        )
        wall = time.perf_counter() - t0
        pairs = frozenset(
            (r["a_id"], r["b_id"])
            for r in verified.select("a_id", "b_id").collect()
        )
        return Unit(wall, pairs, dir_bytes(self.live) - before, self.live)

    def discard(self, unit: Unit) -> None:
        shutil.rmtree(unit.root, ignore_errors=True)

    def quality(self, unit: Unit) -> dict:
        """Recall over every planted pair touching the batch; precision as
        the share of verified pairs inside one truth component."""
        from spaczz_spark.functions.signatures import normalize
        from spaczz_spark.sources.corpus import file_key

        if not self.key_of:
            ids = normalize(
                self.spark.read.parquet(self.store_path).unionByName(self.files())
            ).select("repo", "path", "commit", "file_id").collect()
            self.key_of = {
                r["file_id"]: file_key(r["repo"], r["path"], r["commit"])
                for r in ids
            }
        found = {
            frozenset((self.key_of[a], self.key_of[b])) for a, b in unit.outcome
        }
        hit = sum(frozenset(p) in found for p in self.truth)
        recall = hit / len(self.truth) if self.truth else 1.0
        same = sum(
            self.component_of[self.key_of[a]] == self.component_of[self.key_of[b]]
            for a, b in unit.outcome
        )
        precision = same / len(unit.outcome) if unit.outcome else 1.0
        return {
            # recall is reported, not gated: the MinHash-only path misses
            # the substring plants by design (see README)
            "ok": True,
            "pair_recall": recall,
            "pair_precision": precision,
            "truth_pairs": len(self.truth),
        }


WORKLOADS = {w.name: w for w in (BatchSkewed, IncrementalAppend)}
