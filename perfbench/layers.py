"""Traced run: per-layer numbers for one workload.

After set-up the run times one untraced unit, then one traced unit whose
Spark job and stage counters are read from the REST API right after it
returns (the UI keeps only the last 1,000 jobs). It then calls each layer
again on the traced unit's committed outputs, from this file, with a span
around every call. Spans (id, name, start, end, parent) stay in memory and
are written to ``perfbench/.work/trace-<workload>-<seed>.json`` at the end.

A layer the workload does not run reports 0 for its metrics (the batch
workload runs no incremental batch; the incremental workload runs no
pipeline stage, substring source, connected components or catalog).

A probe that finds the engine disagreeing with it (a resume that rebuilds a
stage, or the incremental candidate plan re-built here verifying a
different number of pairs than ``process_batch`` returned) fails the traced
unit, so drift between a probe and the engine shows as ``correct: false``.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

from procstat import dir_bytes
from spaczz_spark.functions.signatures import (
    make_fused_signature_udf, normalize, pack_band_keys,
)
from spaczz_spark.operators.components import connected_components
from spaczz_spark.operators.lsh import minhash_candidates, simhash_candidates
from spaczz_spark.operators.substring import (
    screen_substring_pairs, substring_candidates, verify_substring_pairs,
)
from spaczz_spark.operators.verify import (
    CHAR_KERNEL_MAX, attach_pair_sides, decided_pairs, kernel_pairs,
    score_pairs_slim,
)
from spaczz_spark.plans.pipeline import DedupPipeline
from spaczz_spark.ratios import indel_ratio
from spaczz_spark.sources.catalog import CheckpointCatalog

STAGES = ("normalized", "signatures", "candidate_pairs", "verified_pairs",
          "components")
STAGE_FIELDS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                "shuffle_bytes": "bytes", "rows_out": "rows",
                "busy_frac": "ratio"}

PER_LAYER = {
    **{f"pipeline.{s}.{f}": u for s in STAGES for f, u in STAGE_FIELDS.items()},
    "pipeline.jobs": "count",
    "pipeline.collapse_ratio": "ratio",
    "signatures.kernel_files_per_s": "files/s",
    "signatures.shingles_per_file": "count",
    "signatures.fingerprints_per_file": "count",
    "lsh.minhash.wall_s": "s",
    "lsh.minhash.pairs": "pairs",
    "lsh.simhash.wall_s": "s",
    "lsh.simhash.pairs": "pairs",
    "lsh.buckets.small": "count",
    "lsh.buckets.mid": "count",
    "lsh.buckets.star": "count",
    "lsh.predicted_pairs": "pairs",
    "lsh.yield": "ratio",
    "substring.candidates.wall_s": "s",
    "substring.candidates.pairs": "pairs",
    "substring.screen.pass_ratio": "ratio",
    "substring.verify.wall_s": "s",
    "substring.verify.accepted": "pairs",
    "verify.slim.wall_s": "s",
    "verify.decided.pairs": "pairs",
    "verify.kernel.band_pairs": "pairs",
    "verify.kernel.wall_s": "s",
    "verify.kernel.accept_ratio": "ratio",
    "ratios.indel.pairs_per_s": "pairs/s",
    "ratios.indel.chars_per_pair": "chars",
    "components.cc.iterations": "count",
    "components.cc.wall_s": "s",
    "components.cc.edges_in": "edges",
    **{f"catalog.{s}.bytes": "bytes" for s in STAGES},
    "catalog.fingerprint_s": "s",
    "catalog.resume_s": "s",
    "incremental.batch.jobs": "count",
    "incremental.batch.candidates": "pairs",
    "incremental.batch.verified": "pairs",
    "incremental.store.rows": "rows",
    "incremental.append_bytes": "bytes",
    "jvm.old_gen.peak_mb": "MB",
    "trace.overhead_s": "s",
    "trace.other_s": "s",
}

# in-process kernel probes: a fixed sample, timed for at least this long
KERNEL_SAMPLE = 64
KERNEL_MIN_S = 1.0


class Spans:
    """In-memory span log: (id, name, start, end, parent)."""

    def __init__(self):
        self.items: list[dict] = []
        self._open: list[int] = []

    def add(self, name, start, end, parent=None) -> int:
        self.items.append({"id": len(self.items), "name": name,
                           "start": start, "end": end, "parent": parent})
        return len(self.items) - 1

    @contextmanager
    def span(self, name):
        sid = self.add(name, time.time(), None,
                       self._open[-1] if self._open else None)
        self._open.append(sid)
        t0 = time.perf_counter()
        rec = {"wall_s": 0.0}
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.items[sid]["end"] = time.time()
            self._open.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f)


class SparkRest:
    """Job and stage counters from the Spark UI's REST API."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self._get("jobs")), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs newer than ``job_id``, once the listener has recorded all of
        them as finished."""
        seen = -1
        for _ in range(100):
            jobs = [j for j in self._get("jobs") if j["jobId"] > job_id]
            if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
                return sorted(jobs, key=lambda j: j["jobId"])
            seen = len(jobs)
            time.sleep(0.1)
        raise RuntimeError("Spark REST job list did not settle")

    def stages(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for s in self._get("stages"):
            if s["status"] == "COMPLETE":
                out.setdefault(s["stageId"], s)
        return out


class OldGenPeak:
    """Peak occupancy of the driver JVM's old-generation heap pool over a
    span of work. A full GC first leaves only live data, then the pool's
    peak is reset, so the reading is what the work kept alive long enough
    to be promoted. ``peak_rss_mb`` cannot see this: the heap is committed
    at start."""

    def __init__(self, sc):
        mf = sc._jvm.java.lang.management.ManagementFactory
        self.jvm = sc._jvm
        self.pool = next(p for p in mf.getMemoryPoolMXBeans()
                         if p.getType().name() == "HEAP"
                         and "Old Gen" in p.getName())

    def reset(self) -> None:
        self.jvm.java.lang.System.gc()
        self.pool.resetPeakUsage()

    def peak_mb(self) -> float:
        return self.pool.getPeakUsage().getUsed() / 2**20


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def group_jobs(jobs, stages, spans: Spans, parent: int) -> dict[str, dict]:
    """Per ``stage:<name>`` job description: jobs, tasks, shuffle bytes and
    executor run time; each Spark stage counts once, in the first job that
    lists it. Adds a span per pipeline stage and per job."""
    groups: dict[str, dict] = {}
    owner: dict[int, str] = {}
    for j in jobs:
        desc = j.get("description") or ""
        name = desc[len("stage:"):] if desc.startswith("stage:") else "other"
        g = groups.setdefault(name, {"jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                                     "run_ms": 0, "job_list": []})
        g["jobs"] += 1
        g["tasks"] += j["numCompletedTasks"]
        g["job_list"].append(j)
        for sid in j["stageIds"]:
            if sid in stages and sid not in owner:
                owner[sid] = name
                g["shuffle_bytes"] += stages[sid]["shuffleWriteBytes"]
                g["run_ms"] += stages[sid]["executorRunTime"]
    for name, g in groups.items():
        js = [j for j in g.pop("job_list") if j.get("completionTime")]
        if not js:
            continue
        gid = spans.add(f"stage:{name}",
                        min(_ts(j["submissionTime"]) for j in js),
                        max(_ts(j["completionTime"]) for j in js), parent)
        for j in js:
            spans.add(f"job:{j['jobId']}", _ts(j["submissionTime"]),
                      _ts(j["completionTime"]), gid)
    return groups


def zeros(prefix: str) -> dict:
    return {n: 0 for n in PER_LAYER if n.startswith(prefix)}


def timed_loop(fn) -> tuple[int, float]:
    """Call ``fn`` until KERNEL_MIN_S has passed; (calls, seconds)."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= KERNEL_MIN_S:
            return n, el


# -- layer probes -------------------------------------------------------------

def probe_signatures(contents: list[str], cfg, with_fingerprints: bool) -> dict:
    fp = ((cfg.substring_k, cfg.substring_w, cfg.substring_min_len)
          if with_fingerprints else (None, None, None))
    fn = make_fused_signature_udf(cfg.shingle_k, cfg.num_perm, cfg.seed, *fp).func
    sample = pd.Series(contents[:KERNEL_SAMPLE])
    out = fn(sample)
    calls, el = timed_loop(lambda: fn(sample))
    return {
        "signatures.kernel_files_per_s": calls * len(sample) / el,
        "signatures.shingles_per_file": out["shingles"].map(len).mean(),
        "signatures.fingerprints_per_file": (
            out["fingerprints"].map(len).mean() if with_fingerprints else 0
        ),
    }


def probe_lsh(spans: Spans, sigs, cfg) -> dict:
    star_cap = inspect.signature(minhash_candidates).parameters["star_cap"].default
    with spans.span("lsh.minhash") as mh:
        n_mh = minhash_candidates(sigs, cfg.bands, cfg.rows, cfg.bucket_cap,
                                  dedup=False).count()
    with spans.span("lsh.simhash") as sh:
        n_sh = simhash_candidates(sigs, cfg.max_hamming, cfg.bucket_cap,
                                  dedup=False).count()
    b = F.col("count")
    tiers = (
        sigs.select(F.explode(pack_band_keys(cfg.bands, cfg.rows)).alias("k"))
        .groupBy("k").count()
        .agg(
            F.sum(F.when(b.between(2, cfg.bucket_cap), 1)).alias("small"),
            F.sum(F.when((b > cfg.bucket_cap) & (b <= star_cap), 1)).alias("mid"),
            F.sum(F.when(b > star_cap, 1)).alias("star"),
            F.sum(F.when(b.between(2, star_cap), b * (b - 1) / 2)
                  .when(b > star_cap, b - 1)).alias("predicted"),
        )
        .first()
    )
    return {
        "lsh.minhash.wall_s": mh["wall_s"],
        "lsh.minhash.pairs": n_mh,
        "lsh.simhash.wall_s": sh["wall_s"],
        "lsh.simhash.pairs": n_sh,
        "lsh.buckets.small": tiers["small"] or 0,
        "lsh.buckets.mid": tiers["mid"] or 0,
        "lsh.buckets.star": tiers["star"] or 0,
        "lsh.predicted_pairs": int(tiers["predicted"] or 0),
    }


def probe_verify(spans: Spans, cands, sigs, content_df, cfg):
    """Slim, decided and kernel steps of ``verify_pairs``, one at a time;
    returns (metrics, a fixed sample of kernel-band texts for the ratio
    probe, the pairs ``verify_pairs`` would return)."""
    _, min_r2, _ = cfg.resolved_ratios()
    with spans.span("verify.slim") as slim:
        scored = score_pairs_slim(cands, sigs, jaccard_min=cfg.jaccard_min,
                                  jaccard_floor=cfg.jaccard_floor)
        scored.count()
    decided = decided_pairs(scored, jaccard_min=cfg.jaccard_min).count()
    band = scored.where("kernel_band")
    n_band = band.count()
    with spans.span("verify.kernel") as kern:
        accepted = kernel_pairs(scored, content_df, min_r2=min_r2,
                                ratio_func=cfg.ratio_func).count()
    sample = (
        attach_pair_sides(
            band.select("a_id", "b_id").orderBy("a_id", "b_id").limit(KERNEL_SAMPLE),
            content_df, ["content"],
        )
        .select("a_content", "b_content")
        .collect()
    )
    return {
        "verify.slim.wall_s": slim["wall_s"],
        "verify.decided.pairs": decided,
        "verify.kernel.band_pairs": n_band,
        "verify.kernel.wall_s": kern["wall_s"],
        "verify.kernel.accept_ratio": accepted / n_band if n_band else 0,
    }, [(r["a_content"], r["b_content"]) for r in sample], decided + accepted


def probe_ratios(pairs: list, cfg) -> dict:
    """The InDel kernel as ``kernel_pairs`` calls it (token fallback above
    CHAR_KERNEL_MAX chars), in-process."""
    if not pairs:
        return zeros("ratios.")
    _, min_r2, _ = cfg.resolved_ratios()
    args = [
        (a.split(), b.split()) if max(len(a), len(b)) > CHAR_KERNEL_MAX else (a, b)
        for a, b in pairs
    ]

    def run():
        for a, b in args:
            indel_ratio(a, b, score_cutoff=max(min_r2 - 1, 0))

    calls, el = timed_loop(run)
    return {
        "ratios.indel.pairs_per_s": calls * len(args) / el,
        "ratios.indel.chars_per_pair": statistics.mean(
            len(a) + len(b) for a, b in pairs
        ),
    }


def unit_stage_metrics(groups, pipe_traced, pipe_untraced, cores) -> dict:
    out = {}
    for s in STAGES:
        g = groups.get(s, {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "run_ms": 0})
        traced_wall = pipe_traced.metrics[f"{s}_sec"]
        out.update({
            f"pipeline.{s}.wall_s": pipe_untraced.metrics[f"{s}_sec"],
            f"pipeline.{s}.jobs": g["jobs"],
            f"pipeline.{s}.tasks": g["tasks"],
            f"pipeline.{s}.shuffle_bytes": g["shuffle_bytes"],
            f"pipeline.{s}.rows_out": pipe_traced.metrics[f"{s}_rows"],
            f"pipeline.{s}.busy_frac": (
                g["run_ms"] / 1000 / (traced_wall * cores) if traced_wall else 0
            ),
        })
    out["pipeline.jobs"] = sum(g["jobs"] for g in groups.values())
    out["pipeline.collapse_ratio"] = (
        pipe_traced.metrics["signatures_rows"]
        / pipe_traced.metrics["normalized_rows"]
    )
    return out


def batch_layers(wl, spans: Spans, unit, untraced, groups, cores):
    """Per-layer metrics of one pipeline unit; returns (metrics, failures)."""
    spark, cfg = wl.spark, wl.cfg
    _, min_r2, _ = cfg.resolved_ratios()
    pipe = unit.detail["pipe"]
    files = wl.files()
    with spans.span("catalog.fingerprint") as fpt:
        input_fp = DedupPipeline.input_fingerprint(files)
    catalog = CheckpointCatalog(spark, unit.root)
    h = cfg.config_hash()
    norm, sigs, cands, verified = (
        catalog.read_if_valid(s, h, input_fp) for s in STAGES[:4]
    )
    content_df = norm.select("file_id", "content")

    m = unit_stage_metrics(groups, pipe, untraced.detail["pipe"], cores)
    m.update(probe_signatures(list(wl.bundle.files["content"]), cfg, True))
    with spans.span("lsh"):
        m.update(probe_lsh(spans, sigs, cfg))
    m["lsh.yield"] = (pipe.metrics["verified_pairs_rows"]
                      / pipe.metrics["candidate_pairs_rows"])

    sub = cands.where(F.col("stage") == "substring")
    with spans.span("substring.candidates") as sc:
        n_sub = substring_candidates(
            sigs, k=cfg.substring_k, w=cfg.substring_w,
            bucket_cap=cfg.bucket_cap, min_bytes=cfg.substring_min_len,
        ).count()
    n_sub_rows = sub.count()
    passed = screen_substring_pairs(
        sub, sigs, min_len=cfg.substring_min_len, min_partial=min_r2,
        k=cfg.substring_k,
    ).count()
    with spans.span("substring.verify") as sv:
        accepted = verify_substring_pairs(
            sub, sigs, min_len=cfg.substring_min_len,
            min_partial=min_r2 if cfg.substring_partial else None,
            k=cfg.substring_k, content_df=content_df,
        ).count()
    m.update({
        "substring.candidates.wall_s": sc["wall_s"],
        "substring.candidates.pairs": n_sub,
        "substring.screen.pass_ratio": passed / n_sub_rows if n_sub_rows else 0,
        "substring.verify.wall_s": sv["wall_s"],
        "substring.verify.accepted": accepted,
    })

    with spans.span("verify"):
        vm, band_sample, _ = probe_verify(
            spans, cands.where(F.col("stage") != "substring"), sigs,
            content_df, cfg,
        )
    m.update(vm)
    m.update(probe_ratios(band_sample, cfg))

    # connected components over the stage's own input: verified pairs plus
    # the exact-collapse edges (every file to its sha group's min id)
    ids = norm.select("content_sha256", "file_id")
    reps = ids.groupBy("content_sha256").agg(F.min("file_id").alias("a_id"))
    exact = ids.join(reps, "content_sha256").where(
        F.col("file_id") != F.col("a_id")
    ).select("a_id", F.col("file_id").alias("b_id"))
    edges = verified.select("a_id", "b_id").unionByName(exact).localCheckpoint()
    with spans.span("components.cc") as cc:
        labels, iterations = connected_components(edges)
        labels.count()
    m.update({
        "components.cc.iterations": iterations,
        "components.cc.wall_s": cc["wall_s"],
        "components.cc.edges_in": edges.count(),
    })

    m.update({f"catalog.{s}.bytes": dir_bytes(os.path.join(unit.root, s))
              for s in STAGES})
    m["catalog.fingerprint_s"] = fpt["wall_s"]
    with spans.span("catalog.resume") as rs:
        resumed = DedupPipeline(spark, cfg, unit.root)
        resumed.run(files).count()
    failures = [
        f"resume rebuilt stage {s}" for s in STAGES
        if not resumed.metrics.get(f"{s}_resumed")
    ]
    m["catalog.resume_s"] = rs["wall_s"]
    m.update(zeros("incremental."))
    return m, failures


def incremental_layers(wl, spans: Spans, unit, untraced, groups, cores):
    """Per-layer metrics of one ``process_batch`` unit; returns (metrics,
    failures)."""
    cfg = wl.cfg
    corpus = wl.spark.read.parquet(os.path.join(unit.root, "signatures"))
    new_ids = normalize(wl.files()).select("file_id")
    m = {**zeros("pipeline."), **zeros("substring."), **zeros("components."),
         **zeros("catalog.")}
    m.update(probe_signatures(list(wl.batch_pd["content"]), cfg, False))
    with spans.span("lsh"):
        m.update(probe_lsh(spans, corpus, cfg))
    # the touching candidates process_batch verifies: bucket pairs over the
    # store plus the batch, kept when either end is new. This re-builds the
    # engine's plan, so the pairs it verifies are checked against the
    # unit's own result below.
    cand = minhash_candidates(corpus, cfg.bands, cfg.rows, cfg.bucket_cap)
    touching = cand.join(
        new_ids.withColumnsRenamed({"file_id": "a_id"}), "a_id", "left_semi"
    ).unionByName(
        cand.join(new_ids.withColumnsRenamed({"file_id": "b_id"}), "b_id",
                  "left_semi")
    ).distinct().localCheckpoint()
    n_touch = touching.count()
    with spans.span("verify"):
        vm, band_sample, n_verified = probe_verify(
            spans, touching, corpus, corpus, cfg
        )
    failures = [] if n_verified == len(unit.outcome) else [
        f"the candidate plan re-built by the probe verifies {n_verified}"
        f" pairs, process_batch returned {len(unit.outcome)}"
    ]
    m.update(vm)
    m.update(probe_ratios(band_sample, cfg))
    m.update({
        "lsh.yield": len(unit.outcome) / n_touch if n_touch else 0,
        "incremental.batch.jobs": sum(g["jobs"] for g in groups.values()),
        "incremental.batch.candidates": n_touch,
        "incremental.batch.verified": len(unit.outcome),
        "incremental.store.rows": wl.store_rows(),
        "incremental.append_bytes": unit.ckpt_bytes,
    })
    return m, failures


def traced_run(wl, cold, last, setup_s, seed):
    """Untraced unit, traced unit, layer probes; ``last`` is the set-up's
    last unit. Returns (correct, attempted, failed, metrics, detail)."""
    spark = wl.spark
    cores = spark.sparkContext.defaultParallelism
    rest = SparkRest(spark.sparkContext)
    spans = Spans()
    wl.discard(last)

    # both units start from a full GC, so trace.overhead_s does not count it
    old_gen = OldGenPeak(spark.sparkContext)
    old_gen.reset()
    untraced = wl.run_unit()
    wl.discard(untraced)

    old_gen.reset()
    t0 = time.perf_counter()
    with spans.span("unit.traced"):
        before = rest.last_job_id()
        unit = wl.run_unit()
        jobs = rest.jobs_after(before)
        stages = rest.stages()
    traced_wall = time.perf_counter() - t0
    old_gen_peak = old_gen.peak_mb()
    groups = group_jobs(jobs, stages, spans, parent=0)

    bad = [u.outcome != cold.outcome for u in (untraced, unit)]
    with spans.span("probes"):
        layers = batch_layers if wl.name == "batch_skewed" else incremental_layers
        m, failures = layers(wl, spans, unit, untraced, groups, cores)
    m["jvm.old_gen.peak_mb"] = old_gen_peak
    q = wl.quality(unit)
    bad[-1] = bad[-1] or not q["ok"] or bool(failures)
    failed = sum(bad)
    stage_sum = sum(m[f"pipeline.{s}.wall_s"] for s in STAGES)
    m["trace.other_s"] = untraced.wall_s - stage_sum
    m["trace.overhead_s"] = traced_wall - untraced.wall_s
    missing = set(PER_LAYER) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    print(
        f"trace accounting: sum of stage wall_s {stage_sum:.3f} s"
        f" + trace.other_s {m['trace.other_s']:.3f} s"
        f" = untraced unit wall {untraced.wall_s:.3f} s;"
        f" traced unit wall {traced_wall:.3f} s,"
        f" trace.overhead_s {m['trace.overhead_s']:.3f} s"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    spans.write(os.path.join(here, ".work", f"trace-{wl.name}-{seed}.json"))
    wl.discard(unit)
    detail = {
        "setup_s": setup_s,
        "untraced_unit_s": untraced.wall_s,
        "traced_unit_s": traced_wall,
        "jobs_by_stage": {k: v["jobs"] for k, v in groups.items()},
        "quality": q,
        "probe_failures": failures,
        "spans": len(spans.items),
    }
    metrics = {n: (float(m[n]), PER_LAYER[n]) for n in PER_LAYER}
    return failed == 0, 3, failed, metrics, detail
