"""The workloads: set-up, one timed pass, and the correctness gate.

A pass is one fixed unit of work; ``run.py`` repeats passes until its time
is up. Every call into the program goes through a tracer span named after
the layer's module. Spans are no-ops in untraced runs, and only traced runs
force intermediate outputs.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import quality
from repostcheckerbot_spark.operators import ingest as ingest_mod
from repostcheckerbot_spark.operators import referee
from repostcheckerbot_spark.operators.assembly import assemble_docs
from repostcheckerbot_spark.operators.blocking import generate_candidates
from repostcheckerbot_spark.operators.clustering import connected_components, threshold_clustering
from repostcheckerbot_spark.operators.dedup_docs import simhash_near_pairs
from repostcheckerbot_spark.operators.ingest import IncrementalPipeline
from repostcheckerbot_spark.operators.retention import apply_ingest_gate
from repostcheckerbot_spark.operators.scoring import match_edges
from repostcheckerbot_spark.pipeline import run_batch
from repostcheckerbot_spark.sinks.state import Warehouse
from repostcheckerbot_spark.sources.testdata import transcripts_from_documents
from spans import STATE_METHODS

#: share of the corpus in one micro-batch, and in one purge
BATCH_FRAC = 0.02
#: tombstoned batch + purge cycles per purge_churn pass
PURGE_CYCLES = 2
#: document sets per near_dup_ladder pass
LADDER_SETS = 3
LADDER_THRESHOLDS = [1, 4, 7]
WARMUP_DOCS = 400


@dataclass
class Pass:
    wall: float
    batches: list[float] = field(default_factory=list)
    purges: list[float] = field(default_factory=list)
    ops: int = 0
    out: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    cfg: object
    seed: int
    docs: object  # the generated documents (pyarrow Table)
    data_dir: str
    work_dir: str
    cache_dir: str
    tracer: object
    full_check: bool = False  # also run the flagship referee on a new seed
    traced: bool = False
    counters: dict = field(default_factory=lambda: defaultdict(float))


def _as_map(rows, key: str = "conv_id", val: str = "cluster_id") -> dict[str, str]:
    return {r[key]: r[val] for r in rows}


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs) / 1e6


def _count_cc(c: dict, cc_metrics: list[dict]) -> None:
    c["clustering.cc_calls"] += 1
    c["clustering.cc_rounds"] += sum(1 for m in cc_metrics if m.get("stage") == "cc" and "iteration" in m)
    c["clustering.driver_path"] += any(m.get("mode") == "driver_union_find" for m in cc_metrics)


def wrap_cc(ctx: Ctx):
    """Put a clustering span around the ``connected_components`` name that
    ``ingest`` looks up; returns the function that undoes it."""
    original = ingest_mod.connected_components

    def traced_cc(*args, **kwargs):
        metrics: list[dict] = kwargs.pop("metrics", None) or []
        with ctx.tracer.span("clustering"):
            out = original(*args, metrics=metrics, **kwargs)
        _count_cc(ctx.counters, metrics)
        return out

    ingest_mod.connected_components = traced_cc
    return lambda: setattr(ingest_mod, "connected_components", original)


# -- the whole-corpus batch and the near-dup ladder ---------------------------
def er_batch(ctx: Ctx, data_dir: str) -> list:
    """``run_batch`` over the documents in ``data_dir``, until its clusters
    are collected. Traced, it makes run_batch's calls in its order with its
    arguments, forcing each output inside the layer's span."""
    spark, cfg, tr = ctx.spark, ctx.cfg, ctx.tracer
    if not ctx.traced:
        return run_batch(transcripts_from_documents(spark, data_dir), cfg).clusters.collect()
    cc_metrics: list[dict] = []
    with tr.span("testdata"):
        transcripts = transcripts_from_documents(spark, data_dir)
        transcripts.count()
    with tr.span("assembly"):
        docs = assemble_docs(apply_ingest_gate(transcripts, cfg.retention_days))
        docs = docs.repartition(spark.sparkContext.defaultParallelism, "conv_id").localCheckpoint(eager=False)
        docs.count()
    with tr.span("blocking"):
        cands, _bucket_metrics = generate_candidates(docs, cfg, spread=False)
        cands = cands.localCheckpoint(eager=False)
        n_cands = cands.count()
    with tr.span("scoring"):
        edges = match_edges(docs, cands, cfg).localCheckpoint(eager=False)
        edges.count()
    with tr.span("clustering"):
        rows = connected_components(
            edges, vertices=docs.select("conv_id"), max_iterations=cfg.cc_max_iterations, metrics=cc_metrics
        ).collect()
    # counters, outside the spans
    shas = docs.select("conv_id", "doc_sha")
    scored = (
        cands.join(shas.toDF("conv_id_a", "sha_a"), "conv_id_a")
        .join(shas.toDF("conv_id_b", "sha_b"), "conv_id_b")
        .where(F.col("sha_a") != F.col("sha_b"))
        .count()
    )
    c = ctx.counters
    c["blocking.candidates"] += n_cands
    c["scoring.pairs_scored"] += scored
    c["scoring.fuzzy_edges"] += edges.where(F.col("method") == "fuzzy").count()
    _count_cc(c, cc_metrics)
    return rows


def _ladder_edges(ctx: Ctx, path: str):
    docs = ctx.spark.read.parquet(path)
    edges = simhash_near_pairs(docs, max_hamming=8).select(
        F.col("doc_id_a").cast("string").alias("doc_id_a"),
        F.col("doc_id_b").cast("string").alias("doc_id_b"),
        F.col("hamming").alias("weight"),
    )
    return docs, edges


def ladder(ctx: Ctx, path: str) -> list:
    """As the ``threshold_cluster_ladder`` query: simhash near pairs
    (max_hamming 8), then single-linkage cuts at 1/4/7, collected."""
    with ctx.tracer.span("dedup_docs"):
        docs, edges = _ladder_edges(ctx, path)
        if ctx.traced:
            edges = edges.localCheckpoint(eager=False)
            ctx.counters["dedup_docs.pairs"] += edges.count()
    with ctx.tracer.span("clustering"):
        return threshold_clustering(
            edges,
            thresholds=LADDER_THRESHOLDS,
            id_a_col="doc_id_a",
            id_b_col="doc_id_b",
            vertices=docs.select(F.col("doc_id").cast("string").alias("doc_id")),
            out_col="doc_id",
            vertices_cover_edges=True,
        ).collect()


def ladder_fails(ctx: Ctx, path: str, outputs: list[list]) -> list[str]:
    """Each ladder output against ``referee.single_linkage_levels`` over the
    same simhash edges."""
    docs, edges = _ladder_edges(ctx, path)
    nodes = [str(r["doc_id"]) for r in docs.select("doc_id").collect()]
    weighted = [(r["doc_id_a"], r["doc_id_b"], int(r["weight"])) for r in edges.collect()]
    want = referee.single_linkage_levels(nodes, weighted, LADDER_THRESHOLDS)
    return [
        f"ladder {i} over {os.path.basename(os.path.dirname(path))} differs from single_linkage_levels"
        for i, rows in enumerate(outputs)
        if sorted((r["doc_id"], int(r["threshold"]), r["cluster_id"]) for r in rows) != want
    ]


class BatchER:
    """One cold ``run_batch`` over the whole corpus, then the near-dup
    ladder over the same documents: a one-shot batch job."""

    name = "batch_er"
    cold = True  # the first pass of a process pays JVM and codegen warm-up

    def setup(self, ctx: Ctx) -> None:
        convs = quality.conversations(ctx.docs.column("doc_id").to_pylist(), ctx.docs.column("text").to_pylist())
        self.records = sum(turns for turns, _chars in convs.values())

    def run_pass(self, ctx: Ctx) -> Pass:
        t0 = time.perf_counter()
        clusters = er_batch(ctx, ctx.data_dir)
        t1 = time.perf_counter()
        lad = ladder(ctx, f"{ctx.data_dir}/documents.parquet")
        t2 = time.perf_counter()
        return Pass(t2 - t0, [t1 - t0], ops=2, out={"clusters": clusters, "ladder": lad, "ladder_s": t2 - t1})

    def check(self, ctx: Ctx, passes: list[Pass]) -> tuple[list[str], dict]:
        # the flagship referee takes ~15 s of four cores for a new seed, which
        # a full evaluation cannot afford in every run: untraced runs report
        # pair_f1 only for the seeds it has already run on
        f1 = ctx.full_check or quality.referee_cached(ctx.data_dir, ctx.cache_dir)
        with quality.referee_clusters(ctx.data_dir, ctx.work_dir, ctx.cache_dir) if f1 else nullcontext() as referee:
            fails = ladder_fails(ctx, f"{ctx.data_dir}/documents.parquet", [p.out["ladder"] for p in passes])
            first = _as_map(passes[0].out["clusters"])
            fails += [f"pass {i}: clusters differ from pass 0" for i, p in enumerate(passes) if _as_map(p.out["clusters"]) != first]
            misses = quality.repost_misses(first, ctx.docs.column("doc_id").to_pylist())
            if misses:
                fails.append(f"{len(misses)} planted reposts outside their source's cluster, e.g. {misses[:3]}")
            _store_batch_clusters(ctx, first)
            truth = referee.wait() if referee else None
        extra = {"ladder_s": quality.p50([p.out["ladder_s"] for p in passes])}
        if truth is None:
            return fails, extra
        if first.keys() != truth.keys():
            fails.append("clusters and referee cover different conv_ids")
            return fails, extra
        extra["pair_f1"], extra["pair_precision"], extra["pair_recall"] = quality.pair_f1(first, truth)
        return fails, extra


class NearDupLadder:
    """The ladder alone, over several seeded document sets."""

    name = "near_dup_ladder"

    def setup(self, ctx: Ctx) -> None:
        pool = gen.text_pool()
        self.sets = []
        for j in range(LADDER_SETS):
            d = f"{ctx.work_dir}/ladder{j}"
            gen.write_documents(d, ctx.seed * LADDER_SETS + j + 1, pool)
            self.sets.append(f"{d}/documents.parquet")
        warm = f"{ctx.work_dir}/ladder_warm.parquet"
        pq.write_table(ctx.docs.slice(0, WARMUP_DOCS), warm)
        with ctx.tracer.span("warmup"):
            ladder(ctx, warm)
        self.records = LADDER_SETS * gen.N_DOCS

    def run_pass(self, ctx: Ctx) -> Pass:
        lat, outs = [], []
        t0 = time.perf_counter()
        for path in self.sets:
            t = time.perf_counter()
            outs.append(ladder(ctx, path))
            lat.append(time.perf_counter() - t)
        return Pass(time.perf_counter() - t0, lat, ops=len(lat), out={"ladders": outs})

    def check(self, ctx: Ctx, passes: list[Pass]) -> tuple[list[str], dict]:
        fails = []
        for j, path in enumerate(self.sets):
            fails += ladder_fails(ctx, path, [p.out["ladders"][j] for p in passes])
        return fails, {}


def _batch_clusters_path(ctx: Ctx) -> str:
    return f"{ctx.cache_dir}/batch_clusters_{quality.documents_key(ctx.data_dir)}.parquet"


def _store_batch_clusters(ctx: Ctx, clusters: dict[str, str]) -> None:
    os.makedirs(ctx.cache_dir, exist_ok=True)
    tmp = _batch_clusters_path(ctx) + ".tmp"
    pq.write_table(pa.table({"conv_id": list(clusters), "cluster_id": list(clusters.values())}), tmp)
    os.replace(tmp, _batch_clusters_path(ctx))


def batch_clusters(ctx: Ctx) -> dict[str, str]:
    """``run_batch``'s clusters over these documents: as a batch_er run of
    this checkout stored them, else computed now."""
    path = _batch_clusters_path(ctx)
    if not os.path.exists(path):
        _store_batch_clusters(ctx, _as_map(er_batch(ctx, ctx.data_dir)))
    t = pq.read_table(path)
    return dict(zip(t.column("conv_id").to_pylist(), t.column("cluster_id").to_pylist()))


# -- warehouse workloads -----------------------------------------------------
class TimedWarehouse(Warehouse):
    """A Warehouse whose public methods run inside ``state.<method>`` spans
    and count their calls, inclusive wall time and bucket pruning. The
    ingest persist pool calls them from several threads at once."""

    def __init__(self, spark, root, tracer, counters):
        super().__init__(spark, root)
        self.tracer = tracer
        self.counters = counters
        self.lock = threading.Lock()


def _timed(method: str):
    base = getattr(Warehouse, method)

    def call(self, *args, **kwargs):
        t0 = time.perf_counter()
        with self.tracer.span(f"state.{method}"):
            out = base(self, *args, **kwargs)
        dt = time.perf_counter() - t0
        stats = out[1] if method == "read_bucket_pruned" else out if isinstance(out, dict) else None
        c = self.counters
        with self.lock:
            c[f"state.{method}.calls"] += 1
            c[f"state.{method}.wall_s"] += dt
            if stats and stats.get("buckets_total"):
                used = stats.get("buckets_read", stats.get("buckets_touched"))
                c["state.buckets_used"] += stats["buckets_total"] if used is None else used
                c["state.buckets_total"] += stats["buckets_total"]
        return out

    call.__name__ = method
    return call


for _m in STATE_METHODS:
    setattr(TimedWarehouse, _m, _timed(_m))


def _file_bytes(root: str) -> dict[int, int]:
    return {
        os.stat(p).st_ino: os.path.getsize(p)
        for d, _s, fs in os.walk(root)
        for p in (os.path.join(d, f) for f in fs)
    }


class _Warehoused:
    """Set-up shared by the warehouse workloads. Conversations arrive in a
    seeded order; the last ``n_batches`` micro-batches of ~2% of the turns
    each form the stream, and a template warehouse is preloaded with every
    conversation before them. ``deletes`` seeded sets of ~2% of the stored
    conversations are drawn for purging. Each pass works on a fresh copy of
    the template."""

    n_batches: int
    deletes: int

    def transcripts(self, ctx: Ctx, ids: list[str]):
        with ctx.tracer.span("testdata"):
            return transcripts_from_documents(ctx.spark, ctx.data_dir).where(F.col("conv_id").isin(ids))

    def setup(self, ctx: Ctx) -> None:
        convs = quality.conversations(ctx.docs.column("doc_id").to_pylist(), ctx.docs.column("text").to_pylist())
        ids = sorted(convs)
        stored = [ids[i] for i in np.random.default_rng(ctx.seed).permutation(len(ids))]
        # micro-batches are cut from the end of the arrival order by turns,
        # so that every seed streams the same amount of input
        target = BATCH_FRAC * sum(turns for turns, _chars in convs.values())
        self.stream = []
        for _ in range(self.n_batches):
            batch = []
            while sum(convs[c][0] for c in batch) < target:
                batch.append(stored.pop())
            self.stream.append(batch)
        tail = [c for batch in self.stream for c in batch]
        k = round(len(ids) * BATCH_FRAC)
        doomed = [stored[i] for i in np.random.default_rng(ctx.seed + 7919).permutation(len(stored))[: k * self.deletes]]
        self.dead = [doomed[i * k : (i + 1) * k] for i in range(self.deletes)]
        self.records = sum(convs[c][0] for c in tail)
        self.pass_bytes = sum(convs[c][1] for c in tail)
        self.template = f"{ctx.work_dir}/wh_template"
        with ctx.tracer.span("preload"):
            preload = transcripts_from_documents(ctx.spark, ctx.data_dir).where(~F.col("conv_id").isin(tail))
            IncrementalPipeline(Warehouse(ctx.spark, self.template), ctx.cfg).process_batch(preload)
        self.n_pass = 0

    def pipeline(self, ctx: Ctx) -> tuple[IncrementalPipeline, str]:
        root = f"{ctx.work_dir}/wh_pass{self.n_pass}"
        self.n_pass += 1
        shutil.copytree(self.template, root)
        wh = TimedWarehouse(ctx.spark, root, ctx.tracer, ctx.counters) if ctx.traced else Warehouse(ctx.spark, root)
        return IncrementalPipeline(wh, ctx.cfg), root

    def op(self, ctx: Ctx, name: str, root: str, fn, *args, **kwargs) -> float:
        seen = _file_bytes(root) if ctx.traced else None
        t0 = time.perf_counter()
        with ctx.tracer.span(name):
            fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        if ctx.traced:
            ctx.counters["state.write_bytes"] += sum(b for ino, b in _file_bytes(root).items() if ino not in seen)
        return dt

    def paths(self, ctx: Ctx, root: str, tombstoned: bool) -> list[dict]:
        """Per micro-batch of a pass, from the warehouse's _metrics table:
        cluster swap or merge, buckets read against buckets total, and the
        persist order that tombstones imply."""
        runs: dict[str, dict] = {}
        for r in sorted(Warehouse(ctx.spark, root).read("_metrics").collect(), key=lambda r: r["recorded_at"]):
            run = runs.setdefault(r["run_id"], {"clusters": None, "buckets_read": 0, "buckets_total": 0})
            extra = json.loads(r["extra"] or "{}")
            if r["stage"] in ("ingest.clusters_swap", "ingest.clusters_merge"):
                run["clusters"] = r["stage"].rsplit("_", 1)[1]
            if extra.get("buckets_total"):
                used = extra.get("buckets_read", extra.get("buckets_touched"))
                run["buckets_read"] += extra["buckets_total"] if used is None else used
                run["buckets_total"] += extra["buckets_total"]
        batches = list(runs.values())[1:]  # the first run is the preload
        for b in batches:
            b["order"] = "strict" if tombstoned else "overlap"
        return batches

    def finish(self, ctx: Ctx, passes: list[Pass], fails: list[str], tombstoned: bool) -> tuple[list[str], dict]:
        extra = {
            "warehouse_mb": quality.p50([p.out["mb"] for p in passes]),
            "paths": self.paths(ctx, passes[-1].out["root"], tombstoned),
        }
        if passes[0].purges:
            extra["purge_p50_s"] = quality.p50([t for p in passes for t in p.purges])
        for p in passes:
            shutil.rmtree(p.out["root"], ignore_errors=True)
        return fails, extra


class IngestStream(_Warehoused):
    """The closing micro-batch of the stream: the last ~2% of the
    conversations into a warehouse preloaded with the other ~98%."""

    name = "ingest_stream"
    cold = True  # the first merge into a preloaded warehouse compiles its plans
    n_batches = 1
    deletes = 0

    def run_pass(self, ctx: Ctx) -> Pass:
        pipe, root = self.pipeline(ctx)
        batch = self.transcripts(ctx, self.stream[0])
        lat = self.op(ctx, "ingest.process_batch", root, pipe.process_batch, batch)
        clusters = pipe.wh.read("clusters").collect()
        return Pass(lat, [lat], ops=1, out={"clusters": clusters, "root": root, "mb": _dir_mb(root)})

    def check(self, ctx: Ctx, passes: list[Pass]) -> tuple[list[str], dict]:
        fails = []
        want = batch_clusters(ctx)
        for i, p in enumerate(passes):
            got = _as_map(p.out["clusters"])
            if got != want:
                diff = sum(1 for k in want.keys() | got.keys() if got.get(k) != want.get(k))
                fails.append(f"pass {i}: {diff} conv_ids cluster differently from run_batch")
            misses = quality.repost_misses(got, ctx.docs.column("doc_id").to_pylist())
            if misses:
                fails.append(f"pass {i}: {len(misses)} planted reposts outside their source's cluster")
        return self.finish(ctx, passes, fails, tombstoned=False)


class PurgeChurn(_Warehoused):
    """Micro-batches carrying tombstones for ~2% of the stored
    conversations, each followed by ``purge_deleted`` of those."""

    name = "purge_churn"
    n_batches = PURGE_CYCLES
    deletes = PURGE_CYCLES

    def run_pass(self, ctx: Ctx) -> Pass:
        pipe, root = self.pipeline(ctx)
        batches = [self.transcripts(ctx, ids) for ids in self.stream]
        dead = [ctx.spark.createDataFrame([(c,) for c in ids], "conv_id string") for ids in self.dead]
        lat, purge = [], []
        t0 = time.perf_counter()
        for b, d in zip(batches, dead):
            lat.append(self.op(ctx, "ingest.process_batch", root, pipe.process_batch, b, tombstones=d))
            purge.append(self.op(ctx, "ingest.purge_deleted", root, pipe.purge_deleted, d))
        wall = time.perf_counter() - t0
        return Pass(wall, lat, purge, ops=len(lat) + len(purge), out={"root": root, "mb": _dir_mb(root)})

    def check(self, ctx: Ctx, passes: list[Pass]) -> tuple[list[str], dict]:
        return self.finish(ctx, passes, self.purge_fails(ctx, passes), tombstoned=True)

    def purge_fails(self, ctx: Ctx, passes: list[Pass]) -> list[str]:
        """Purged conv_ids left in any warehouse table."""
        dead = {c for d in self.dead for c in d}
        cols = {
            "corpus_docs": ["conv_id"],
            "corpus_bands": ["conv_id"],
            "edges": ["conv_id_a", "conv_id_b"],
            "clusters": ["conv_id", "cluster_id"],
            "corpus_reps": ["rep"],
        }
        fails = []
        for i, p in enumerate(passes):
            wh = Warehouse(ctx.spark, p.out["root"])
            for table, cs in cols.items():
                left = {v for r in wh.read(table).select(*cs).collect() for v in r} & dead
                if left:
                    fails.append(f"pass {i}: {len(left)} purged conv_ids remain in {table}")
        return fails


WORKLOADS = {w.name: w for w in (BatchER, IngestStream, PurgeChurn, NearDupLadder)}
