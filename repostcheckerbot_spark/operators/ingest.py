"""Incremental mode: new batch vs accumulated corpus (reference ST4/ST5).

The reference is an infinite poll loop: each arriving record is (1) skipped if
its identity key is already stored (/root/reference/database.py:328-334), (2)
age-gated (database.py:312-323), (3) probed exactly then fuzzily against ALL
accumulated state (database.py:288-711), (4) appended (database.py:714-775).
Matches whose original was deleted upstream are dropped and purged
(database.py:649-676).

Spark rendering: one micro-batch job over a corpus of assembled docs, with
EVERY corpus-side read bucket-pruned so per-batch I/O is proportional to the
batch, never the corpus:

  new turns → assemble → age gate
    → LEFT ANTI join pruned corpus on conv_id   (J1  identity skip)
    → exact:  probe the ``corpus_reps`` index   (J2  — sha → group rep,
              bucketed by sha; one star edge per batch doc)
    → fuzzy:  batch bands ⋈ colliding corpus bands only (bucket-pruned scan
              + broadcast semi-join on the batch band keys before capping)
    → score:  texts joined from the CANDIDATE id set's buckets only
    → anti-join tombstones                       (J5)
    → upsert docs/bands/reps/edges state         (ST5 idempotent bucketed
              MERGEs — write I/O ∝ touched buckets)
    → clusters: hybrid update — full recompute below
      cfg.incremental_clusters_min_corpus, affected-component-only CC merged
      into the bucketed clusters table above it

State tables (Warehouse): ``corpus_docs`` (bucketed by conv_id),
``corpus_bands`` (bucketed by band_hash), ``corpus_reps`` (doc_sha → rep,
bucketed by doc_sha), ``edges`` (pair key, bucketed by conv_id_a),
``clusters`` (bucketed by conv_id), ``_metrics``. At cluster scale these are
Iceberg ``bucket(...)``-partitioned tables; here parquet behind the same
interface.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repostcheckerbot_spark.config import PipelineConfig
from repostcheckerbot_spark.operators.assembly import assemble_docs
from repostcheckerbot_spark.operators.blocking import with_bands, with_signature
from repostcheckerbot_spark.operators.clustering import connected_components
from repostcheckerbot_spark.operators.retention import apply_ingest_gate, within_retention
from repostcheckerbot_spark.operators.scoring import difflib_ratio_once
from repostcheckerbot_spark.sinks.state import MetricsSink, Warehouse

DOC_COLS = ["conv_id", "doc_sha", "norm_text", "role_sig", "tool", "first_ts", "n_turns"]


class IncrementalPipeline:
    def __init__(self, warehouse: Warehouse, cfg: PipelineConfig):
        self.wh = warehouse
        self.cfg = cfg

    # -- state accessors ----------------------------------------------------
    def corpus_docs(self) -> DataFrame | None:
        return self.wh.read("corpus_docs") if self.wh.exists("corpus_docs") else None

    def edges(self) -> DataFrame | None:
        return self.wh.read("edges") if self.wh.exists("edges") else None

    # -- one micro-batch ------------------------------------------------------
    def process_batch(
        self,
        new_transcripts: DataFrame,
        tombstones: DataFrame | None = None,
        now=None,
    ) -> dict[str, DataFrame]:
        cfg = self.cfg
        metrics = MetricsSink(self.wh)
        t0 = time.monotonic()

        def _lap() -> float:
            """Wall-clock since batch start — stamped onto every stage metric
            so the lineage shows WHERE a slow micro-batch spent its time."""
            return round(time.monotonic() - t0, 3)

        # J5 keys, materialized up front: the tombstone frame's lineage is
        # caller-owned and may read a table the persist pool below rewrites
        # (e.g. a corpus_docs filter), so it must not run lazily mid-pool.
        dead = None
        if tombstones is not None:
            dead = tombstones.select("conv_id").distinct().localCheckpoint(eager=True)
        # After the repair, a corpus implies the corpus_reps index and the
        # clusters table; no clusters table means a fresh warehouse.
        has_corpus = self.wh.exists("corpus_docs")
        if has_corpus:
            self._repair(metrics)

        # Job-launch discipline (this batch's wall time is dominated by the
        # ~1-3 s driver floor PER JOB, not by data volume — BENCH/BASELINE.md):
        # every checkpoint in this method is LAZY and materialized by the next
        # action that already has to run (a bucket-id collect, a metric count),
        # so each fused pair costs ONE job launch, not two.
        assembled = assemble_docs(
            apply_ingest_gate(new_transcripts, cfg.retention_days, now=now)
        ).localCheckpoint(eager=False)

        if has_corpus:
            # J1: identity skip — already-logged conv_ids never re-enter.
            # Bucket-pruned: only corpus buckets that can contain a batch
            # conv_id are scanned (I/O ∝ batch buckets, not corpus). The
            # bucket-id collect inside read_bucket_pruned materializes the
            # `assembled` checkpoint.
            known, skip_pruning = self.wh.read_bucket_pruned(
                "corpus_docs", assembled.select("conv_id"), "conv_id"
            )
            batch_docs = assembled.join(
                known.select("conv_id"), "conv_id", "left_anti"
            ).localCheckpoint(eager=False)
        else:
            batch_docs, skip_pruning = assembled, None
        # ONE aggregate materializes batch_docs and yields (a) the batch size
        # for both metric rows (identity-skip survivors ≡ batch size), (b)
        # the conv_id bucket ids the corpus_docs merge will touch, (c) the
        # doc_sha bucket ids the corpus_reps probe AND merge will touch —
        # all under the warehouse bucket hash, so the downstream
        # read_bucket_pruned / upsert calls skip their own collect jobs.
        nb = int(cfg.warehouse_buckets)
        _b = lambda c: F.collect_set(F.pmod(F.xxhash64(c), F.lit(nb)).cast("int"))  # noqa: E731
        srow = batch_docs.agg(
            F.count(F.lit(1)).alias("n"), _b("conv_id").alias("cb"), _b("doc_sha").alias("sb")
        ).collect()[0]
        n_batch, conv_buckets, sha_buckets = int(srow["n"]), list(srow["cb"]), list(srow["sb"])

        def _tb(table: str, buckets: list[int]) -> list[int] | None:
            """Pre-computed touched buckets are only valid when the table's
            layout hash matches this config's bucket count."""
            return buckets if self.wh.get_meta(table, "n_buckets") == nb else None

        if skip_pruning is not None:
            metrics.record_count("ingest.identity_skip", n_batch, wall_s=_lap(), **skip_pruning)
        metrics.record_count("ingest.batch_docs", n_batch, wall_s=_lap())

        sig = with_signature(batch_docs, cfg).select(*cfg.block_cols, "conv_id", "minhash")
        banded = with_bands(sig, cfg)
        key = [*cfg.block_cols, "band_id", "band_hash"]
        # lazy: materialized by the corpus_bands bucket-id collect below (or,
        # on a fresh warehouse, by the capped-pool heads aggregate)
        batch_bands = banded.select(*key, "conv_id").localCheckpoint(eager=False)

        # ---- exact edges: STAR-CAPPED probe — one edge per batch doc --------
        # The r1 cut joined batch sha against (corpus ∪ batch): one edge per
        # STORED COPY, so a probe matching a viral duplicate group of 10⁶
        # copies emitted 10⁶ edges — the exact quadratic skew the batch path's
        # exact_edges star rewrite (scoring.py:45) avoids. Instead, join each
        # batch doc to ONE representative per sha: the corpus group min when
        # the sha is already stored (every stored copy is already connected to
        # it, inductively), else the batch-local min. O(batch) edges; the
        # connected components are identical.
        # The corpus-side rep lookup is the maintained ``corpus_reps`` index
        # (doc_sha → group rep, hash-bucketed by doc_sha): the probe reads
        # only the buckets the batch's shas hash into — I/O ∝ batch, where the
        # r3-pre shape re-aggregated ALL of corpus_docs every micro-batch.
        # The invariant the star argument needs is "every stored copy of a
        # sha is connected to reps[sha]" — maintained below (persist section)
        # and under purges (_purge_keys re-star). A corpus without the index
        # had it rebuilt by the repair step at batch start.
        probe = batch_docs.select("conv_id", "doc_sha")
        batch_reps = probe.groupBy("doc_sha").agg(F.min("conv_id").alias("brep"))
        if has_corpus:
            crep_src, rep_pruning = self.wh.read_bucket_pruned(
                "corpus_reps",
                probe.select("doc_sha"),
                "doc_sha",
                touched=_tb("corpus_reps", sha_buckets),
            )
            metrics.record_count("ingest.rep_probe", 0, wall_s=_lap(), **rep_pruning)
            crep = crep_src.select("doc_sha", F.col("rep").alias("crep"))
            reps = batch_reps.join(crep, "doc_sha", "left").select(
                "doc_sha", F.coalesce("crep", "brep").alias("rep")
            )
        else:
            reps = batch_reps.select("doc_sha", F.col("brep").alias("rep"))
        # reps feeds the exact star edges AND the corpus_reps merge; the lazy
        # checkpoint cuts the corpus_reps-file lineage so the persist pool
        # below can rewrite the table while the scoring job still runs.
        reps = reps.localCheckpoint(eager=False)
        exact = (
            probe.join(reps, "doc_sha")
            .where(F.col("conv_id") != F.col("rep"))
            .select(
                F.least("conv_id", "rep").alias("conv_id_a"),
                F.greatest("conv_id", "rep").alias("conv_id_b"),
                F.lit(100.0).alias("score"),
                F.lit("exact").alias("method"),
            )
            .dropDuplicates(["conv_id_a", "conv_id_b"])
        )

        # ---- fuzzy candidates: batch bands ⋈ colliding corpus bands ---------
        # I/O ∝ BATCH, not corpus: only corpus bands whose full band key
        # collides with a batch band can ever produce a candidate, so the
        # corpus side is (1) bucket-pruned at scan time (corpus_bands is
        # hash-bucketed by band_hash) and (2) semi-joined against the
        # BROADCAST batch band keys BEFORE any capping — the r2 shape ran the
        # whole corpus band set through a ranking window every micro-batch.
        # The surviving pool (colliding buckets only) is capped with the same
        # deterministic smallest-conv_id rule as the batch path
        # (blocking.py:21-27) and eagerly checkpointed: it is tiny (≤ cap ×
        # colliding buckets), and the metrics counts + candidate join all read
        # the materialized pool instead of rescanning the corpus.
        batch_keys = batch_bands.select(*key).distinct()
        if self.wh.exists("corpus_bands"):
            corpus_pruned, pruning = self.wh.read_bucket_pruned(
                "corpus_bands", batch_bands.select("band_hash"), "band_hash"
            )
            colliding = corpus_pruned.select(*key, "conv_id").join(
                F.broadcast(batch_keys), key, "left_semi"
            )
            pool = colliding.unionByName(batch_bands)
        else:
            pool, pruning = batch_bands, {"buckets_read": 0, "buckets_total": None}
        w_rank = Window.partitionBy(*key).orderBy("conv_id")
        w_size = Window.partitionBy(*key)
        capped = (
            pool.select(
                *key,
                "conv_id",
                F.row_number().over(w_rank).alias("_rn"),
                F.count(F.lit(1)).over(w_size).alias("_sz"),
            )
            .where(F.col("_rn") <= cfg.max_band_bucket)
            .localCheckpoint(eager=False)  # the heads aggregate materializes it
        )
        # ONE aggregate materializes the capped pool and yields (a) the pool
        # metrics (head rows carry the pre-cap bucket size, so summing them
        # under a _rn==1 guard equals the old heads-only aggregate), (b) the
        # conv_id bucket ids of every pooled row — candidate ids are drawn
        # from pool ∪ batch, so (b) ∪ conv_buckets covers the text lookup's
        # keys and the lookup below skips its own bucket-id collect job.
        heads = capped.agg(
            F.sum(F.when(F.col("_rn") == 1, F.col("_sz"))).alias("pool_rows"),
            F.sum(
                ((F.col("_rn") == 1) & (F.col("_sz") > cfg.max_band_bucket)).cast("long")
            ).alias("n_capped"),
            _b("conv_id").alias("pb"),
        ).collect()[0]
        pool_conv_buckets = sorted(set(heads["pb"]) | set(conv_buckets))
        metrics.record_count(
            "ingest.probe_pool_bands", heads["pool_rows"] or 0, wall_s=_lap(), **pruning
        )
        metrics.record_count(
            "ingest.capped_band_buckets", heads["n_capped"] or 0, cap=cfg.max_band_bucket
        )
        cand = (
            batch_bands.withColumnRenamed("conv_id", "conv_id_new")
            .join(capped.drop("_rn", "_sz").withColumnRenamed("conv_id", "conv_id_old"), key)
            .where(F.col("conv_id_old") != F.col("conv_id_new"))
            .select(
                F.least("conv_id_old", "conv_id_new").alias("conv_id_a"),
                F.greatest("conv_id_old", "conv_id_new").alias("conv_id_b"),
            )
            .dropDuplicates(["conv_id_a", "conv_id_b"])
        )
        # text lookup for scoring: only conv_ids that appear in a candidate
        # pair are ever joined, so the corpus side is bucket-pruned on the
        # candidate id set (I/O ∝ candidates, not corpus)
        texts = batch_docs.select("conv_id", "doc_sha", "norm_text")
        if has_corpus:
            cand_ids = (
                cand.select(F.col("conv_id_a").alias("conv_id"))
                .unionByName(cand.select(F.col("conv_id_b").alias("conv_id")))
                .distinct()
            )
            corpus_texts, text_pruning = self.wh.read_bucket_pruned(
                "corpus_docs",
                cand_ids,
                "conv_id",
                touched=_tb("corpus_docs", pool_conv_buckets),
            )
            metrics.record_count("ingest.text_lookup", 0, wall_s=_lap(), **text_pruning)
            texts = corpus_texts.select("conv_id", "doc_sha", "norm_text").unionByName(texts)
        # texts is the LAST corpus_docs reader in the scoring lineage; the
        # lazy checkpoint frees the table for the concurrent docs merge below
        texts = texts.localCheckpoint(eager=False)

        # exact-exclusion (J4) is SHA-INEQUALITY, not an edge anti-join: exact
        # edges are stars now, so two non-rep members of one sha group never
        # appear in `exact` — equal shas are the complete exclusion criterion
        # (same shape as scoring.fuzzy_edges).
        paired = (
            cand.join(
                texts.select(F.col("conv_id").alias("conv_id_a"), F.col("doc_sha").alias("sha_a"), F.col("norm_text").alias("ta")),
                "conv_id_a",
            )
            .join(
                texts.select(F.col("conv_id").alias("conv_id_b"), F.col("doc_sha").alias("sha_b"), F.col("norm_text").alias("tb")),
                "conv_id_b",
            )
            .where(F.col("sha_a") != F.col("sha_b"))
        )
        # spread the CPU-bound scoring stage, keyed by conv_id_b so the
        # scorer's set_seq2 reuse fires (see scoring.fuzzy_edges)
        paired = paired.repartition(
            paired.sparkSession.sparkContext.defaultParallelism, F.col("conv_id_b")
        )
        fuzzy = (
            paired.withColumn("ratio", difflib_ratio_once(F.col("ta"), F.col("tb")))
            .where(F.col("ratio") > F.lit(cfg.ratio_threshold))
            .select(
                "conv_id_a",
                "conv_id_b",
                (F.col("ratio") * 100.0).alias("score"),
                F.lit("fuzzy").alias("method"),
            )
        )
        new_edges = exact.unionByName(fuzzy)

        # ---- J5: drop edges touching upstream-deleted conversations ---------
        if dead is not None:
            new_edges = new_edges.join(
                dead.withColumnRenamed("conv_id", "conv_id_a"), "conv_id_a", "left_anti"
            ).join(dead.withColumnRenamed("conv_id", "conv_id_b"), "conv_id_b", "left_anti")

        # ---- cluster update: full recompute or incremental merge -----------
        # HYBRID: below cfg.incremental_clusters_min_corpus rows the full
        # recompute (driver union-find + one small write) is strictly cheaper
        # than the affected-set joins + bucketed merge of the growth section
        # below — measured 11.2 s vs 15.9 s per micro-batch at a 5k-conv
        # corpus — so small states take the full path and big states the
        # incremental one. A fresh warehouse (no clusters table) always runs
        # the full CC, which creates the table.
        #
        # The threshold input is the MAINTAINED row count in the clusters
        # table meta (Iceberg snapshot-summary analog), not a count() job per
        # batch: clusters carries exactly one row per corpus conversation
        # (vertices = all corpus docs in both paths), so the count advances by
        # n_batch per batch and by −n_deleted per purge (recompute_clusters
        # re-seeds it). A first batch that died between its clusters write
        # and the set_meta below leaves no stat: count once.
        has_clusters = self.wh.exists("clusters")
        old_n = 0
        if has_clusters:
            old_n = self.wh.get_meta("clusters", "n_rows")
            if old_n is None:
                old_n = self.wh.read("clusters").count()
        full_cc = not has_clusters or old_n < cfg.incremental_clusters_min_corpus

        # ---- persist closures (ST5 idempotent upserts) ----------------------
        # Each touches ONE table and reads only materialized checkpoints plus
        # its own table's files, so the pool below can run them while the
        # scoring job still runs.
        def _persist_docs() -> dict:
            # corpus_docs is hash-bucketed by conv_id: the merge rewrites
            # only the buckets this batch touches (I/O ∝ batch, not corpus)
            return self.wh.upsert(
                "corpus_docs",
                batch_docs.select(*DOC_COLS),
                key="conv_id",
                n_buckets=cfg.warehouse_buckets,
                touched=_tb("corpus_docs", conv_buckets),
            )

        def _persist_reps() -> None:
            # corpus_reps index: upsert the batch shas' rep rows (existing
            # shas rewrite their identical row — idempotent)
            self.wh.upsert(
                "corpus_reps",
                reps.select("doc_sha", "rep"),
                key="doc_sha",
                n_buckets=cfg.warehouse_buckets,
                touched=_tb("corpus_reps", sha_buckets),
            )

        def _persist_bands() -> None:
            # corpus_bands: hash-bucketed by band_hash (append-only — band
            # rows are immutable per conv) so the probe prunes at scan time
            self.wh.append_bucketed(
                "corpus_bands", batch_bands, key="band_hash", n_buckets=cfg.warehouse_buckets
            )

        def _persist_edges(edge_buckets: list[int]) -> dict:
            # edges: bucketed MERGE on the pair key (bucketed by conv_id_a) —
            # write I/O ∝ new edges' buckets.
            return self.wh.upsert(
                "edges",
                new_edges.dropDuplicates(["conv_id_a", "conv_id_b"]),
                key=["conv_id_a", "conv_id_b"],
                n_buckets=cfg.warehouse_buckets,
                touched=_tb("edges", edge_buckets),
            )

        def _recompute_full(cc_edges: DataFrame) -> None:
            # bounded by the hybrid threshold: old_n < min_corpus rows, so the
            # driver union-find path applies (its edge bound is checked inside
            # connected_components; above it the distributed path still only
            # reads the checkpoint)
            vertices = batch_docs.select("conv_id")
            if has_clusters:
                vertices = self.wh.read("clusters").select("conv_id").unionByName(vertices)
            self._write_clusters(
                connected_components(
                    cc_edges, vertices=vertices, max_iterations=cfg.cc_max_iterations
                )
            )

        # ---- persist pool (guide §2.6: back-fill the executor pool) ---------
        # The scoring leg (candidate join → difflib → new-edges aggregate)
        # reads ONLY checkpointed frames once `texts` and `reps` are
        # materialized, so the bands/docs/reps persists run CONCURRENTLY with
        # the CPU-bound difflib job instead of serially after it: batch wall
        # = max(scoring, persists), not their sum.
        #
        # The full-recompute clusters swap joins the pool after the scoring
        # aggregate. Its inputs are all available from pre-merge state:
        #   edges    ≡ old edges table ∪ new_edges checkpoint (exactly what
        #              the post-merge table will contain)
        #   vertices ≡ old clusters conv_ids ∪ batch conv_ids (the clusters
        #              table carries one row per corpus conversation — the
        #              invariant both growth paths and the purge janitor
        #              maintain)
        # and clusters is the ONE table no other persist touches. The old
        # edge files are swapped by _persist_edges mid-pool, so the union is
        # EAGERLY checkpointed first — every CC job then reads the
        # checkpoint, never the live files.
        #
        # Every exit, a failed write included, waits for the in-flight
        # writes: no table rewrite may land after process_batch returns.
        pool = ThreadPoolExecutor(max_workers=6)
        try:
            f_bands = pool.submit(_persist_bands)
            # two tiny concurrent jobs materialize the checkpoints (their
            # compute is work the scoring job needed anyway)
            f_t = pool.submit(texts.count)
            f_r = pool.submit(reps.count)
            f_t.result()
            f_r.result()
            f_docs = pool.submit(_persist_docs)
            f_reps = pool.submit(_persist_reps)
            # the scoring job. Under AQE even the lazy checkpoint call runs
            # every shuffle stage (difflib included), so it comes after the
            # submits above. The aggregate materializes new_edges BEFORE the
            # edges merge rewrites the table this batch appends to, and yields
            # the edge-table bucket ids that merge will touch (fused, like
            # the batch_docs aggregate above).
            new_edges = new_edges.localCheckpoint(eager=False)
            erow = new_edges.agg(
                F.count(F.lit(1)).alias("n"), _b("conv_id_a").alias("eb")
            ).collect()[0]
            metrics.record_count("ingest.new_edges", int(erow["n"]), wall_s=_lap())
            cc_edges = new_edges.select("conv_id_a", "conv_id_b")
            if full_cc and self.wh.exists("edges"):
                cc_edges = (
                    self.wh.read("edges")
                    .select("conv_id_a", "conv_id_b")
                    .unionByName(cc_edges)
                    .localCheckpoint(eager=True)
                )
            f_edges = pool.submit(_persist_edges, list(erow["eb"]))
            f_clusters = pool.submit(_recompute_full, cc_edges) if full_cc else None
            stats = f_docs.result()
            f_reps.result()
            f_bands.result()
            edge_stats = f_edges.result()
            if f_clusters is not None:
                f_clusters.result()
        finally:
            pool.shutdown(wait=True, cancel_futures=True)
        metrics.record_count(
            "ingest.upsert_corpus_docs",
            stats["rows_written"] or 0,
            wall_s=_lap(),
            buckets_touched=stats["buckets_touched"],
            buckets_total=stats["buckets_total"],
        )
        metrics.record_count(
            "ingest.upsert_edges",
            edge_stats["rows_written"] or 0,
            wall_s=_lap(),
            buckets_touched=edge_stats["buckets_touched"],
            buckets_total=edge_stats["buckets_total"],
        )
        all_edges = self.wh.read("edges")

        # ---- implicit-cluster growth: INCREMENTAL component update ----------
        # Cluster assignments only change inside components that a new edge
        # touches (plus the brand-new batch vertices). Instead of re-running
        # CC over the whole corpus every micro-batch (O(corpus) compute AND a
        # full clusters rewrite), restrict to the affected subgraph:
        #   touched   = endpoints of new edges ∪ batch conv_ids
        #   affected  = every conv sharing an OLD cluster with a touched conv
        #               (components are edge-closed, so old edges never leave
        #               the affected set)
        #   sub-CC    = CC over (edges with an endpoint in affected) ∪ new
        #               edges, vertices = affected ∪ batch
        # and MERGE the sub-assignment into the bucketed clusters table —
        # work and write I/O ∝ batch-touched components, not corpus.
        if full_cc:
            metrics.record_count("ingest.clusters_swap", 0, wall_s=_lap())
        else:
            old_clusters = self.wh.read("clusters")
            touched = (
                new_edges.select(F.col("conv_id_a").alias("conv_id"))
                .unionByName(new_edges.select(F.col("conv_id_b").alias("conv_id")))
                .unionByName(batch_docs.select("conv_id"))
                .distinct()
            )
            affected_cids = (
                old_clusters.join(touched, "conv_id", "left_semi")
                .select("cluster_id")
                .distinct()
            )
            affected = (
                old_clusters.join(affected_cids, "cluster_id", "left_semi")
                .select("conv_id")
                .unionByName(batch_docs.select("conv_id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            sub_edges = all_edges.join(
                affected.withColumnRenamed("conv_id", "conv_id_a"), "conv_id_a", "left_semi"
            )
            sub = connected_components(
                sub_edges, vertices=affected, max_iterations=cfg.cc_max_iterations
            )
            cstats = self.wh.upsert(
                "clusters", sub, key="conv_id", n_buckets=cfg.warehouse_buckets
            )
            metrics.record_count(
                "ingest.clusters_merge",
                cstats["rows_written"] or 0,
                wall_s=_lap(),
                buckets_touched=cstats["buckets_touched"],
                buckets_total=cstats["buckets_total"],
            )
        # advance the maintained clusters row count: one row per corpus conv,
        # and every batch doc is NEW (identity skip) — no count() job needed
        self.wh.set_meta("clusters", "n_rows", old_n + n_batch)
        metrics.record_count("ingest.batch", 0, wall_s=time.monotonic() - t0)
        metrics.flush()
        return {
            "batch_docs": batch_docs,
            "new_edges": new_edges,
            "edges": all_edges,
            "clusters": self.wh.read("clusters"),
        }

    def _repair(self, metrics: MetricsSink) -> None:
        """Rebuild ``corpus_reps`` or ``clusters`` when ``corpus_docs``
        exists without it: a warehouse written before the index existed, or
        a first batch that died between its writes. Both tables are functions
        of corpus_docs (+ edges), so after this a corpus always has both."""
        if not self.wh.exists("corpus_reps"):
            # group min = a member every stored copy is connected to (the
            # star invariant the exact probe needs; see process_batch)
            seed = self.wh.read("corpus_docs").groupBy("doc_sha").agg(F.min("conv_id").alias("rep"))
            stats = self.wh.upsert(
                "corpus_reps", seed, key="doc_sha", n_buckets=self.cfg.warehouse_buckets
            )
            metrics.record_count("ingest.repair", stats["rows_written"], table="corpus_reps")
        if not self.wh.exists("clusters"):
            self.recompute_clusters()
            metrics.record_count(
                "ingest.repair", self.wh.get_meta("clusters", "n_rows"), table="clusters"
            )

    def _write_clusters(self, clusters: DataFrame) -> None:
        """Replace the whole clusters table: a straight bucketed swap — the
        MERGE machinery (touched-bucket read + anti-join) buys nothing when
        every row is replaced — or, on the first write, the bucketed layout +
        meta the incremental path merges into later."""
        if self.wh.exists("clusters"):
            self.wh.upsert_replace("clusters", clusters)
        else:
            self.wh.upsert("clusters", clusters, key="conv_id", n_buckets=self.cfg.warehouse_buckets)

    # -- janitors (reference §3.4) -------------------------------------------
    def _purge_keys(self, dead: DataFrame) -> int:
        """Remove the given conv_ids from every state table. ``dead`` stays a
        DataFrame end-to-end (anti-join deletes in Warehouse.delete_keys) —
        never collected; a sweep expiring millions of rows costs the driver
        nothing. Clusters are recomputed from the surviving edge set so no
        stale memberships (or cluster ids naming purged convs) remain.

        Exact-star healing: exact edges are STARS to the per-sha group min
        (process_batch), so deleting the rep would disconnect the surviving
        copies — their only edges pointed at the deleted conv. Before the
        delete, re-star every sha group that loses a member: emit edges from
        each surviving member to the group's new min. Groups that lost no
        member, or whose rep survives, get only duplicate pairs — deduped by
        the edges MERGE. This keeps the reference's probe-all connectivity
        (database.py:328-358) under TTL/tombstone churn."""
        # materialize: the keys are derived from tables the deletes rewrite
        dead = dead.select("conv_id").distinct().localCheckpoint(eager=True)
        restar, dead_shas, new_reps, dead_bands = None, None, None, None
        if self.wh.exists("corpus_bands") and self.wh.exists("corpus_docs"):
            # corpus_bands is bucketed by band_hash — unprunable by conv_id
            # directly. But the doomed rows' band keys are DETERMINISTIC in
            # (stored norm_text, blocking config), so recompute them from the
            # dead docs (one narrow Arrow pass over |dead| rows, read bucket-
            # pruned by conv_id) and hand them to delete_keys as the prune
            # hint: the delete then rewrites only the band_hash buckets that
            # actually hold a doomed row — I/O ∝ dead set, not the bands
            # table. (The pre-r3 shape was a full-table rewrite per purge.)
            # Invariant this leans on: the warehouse's blocking config equals
            # the ingest-time config — changing bands/rows_per_band/shingle_k
            # mid-life requires rebuilding corpus_bands, whose stored rows
            # would be stale for probes anyway.
            dd, _ = self.wh.read_bucket_pruned("corpus_docs", dead, "conv_id")
            dd = dd.join(dead, "conv_id", "left_semi")
            dead_bands = (
                with_bands(
                    with_signature(dd, self.cfg).select("conv_id", "minhash"), self.cfg
                )
                .select("band_hash")
                .distinct()
                .localCheckpoint(eager=True)
            )
        if self.wh.exists("corpus_docs"):
            docs = self.wh.read("corpus_docs").select("conv_id", "doc_sha")
            dead_shas = (
                docs.join(dead, "conv_id", "left_semi")
                .select("doc_sha")
                .distinct()
                .localCheckpoint(eager=True)
            )
            survivors = docs.join(dead, "conv_id", "left_anti").join(
                dead_shas, "doc_sha", "left_semi"
            )
            new_reps = survivors.groupBy("doc_sha").agg(
                F.min("conv_id").alias("rep")
            ).localCheckpoint(eager=True)
            if self.wh.exists("edges"):
                restar = (
                    survivors.join(new_reps, "doc_sha")
                    .where(F.col("conv_id") != F.col("rep"))
                    .select(
                        F.col("rep").alias("conv_id_a"),
                        F.col("conv_id").alias("conv_id_b"),
                        F.lit(100.0).alias("score"),
                        F.lit("exact").alias("method"),
                    )
                    .localCheckpoint(eager=True)  # compute BEFORE the rewrites below
                )
        n = self.wh.delete_keys("corpus_docs", dead, "conv_id")
        if self.wh.exists("corpus_bands"):
            self.wh.delete_keys("corpus_bands", dead, "conv_id", prune_hint=dead_bands)
        if self.wh.exists("edges"):
            self.wh.delete_keys("edges", dead, ["conv_id_a", "conv_id_b"])
            if restar is not None:
                self.wh.upsert("edges", restar, key=["conv_id_a", "conv_id_b"])
        # corpus_reps maintenance: affected shas drop their (possibly dead)
        # rep row, then surviving groups re-point at their new min — keeping
        # the index exactly in sync with the re-star edges above
        if self.wh.exists("corpus_reps") and dead_shas is not None:
            self.wh.delete_keys("corpus_reps", dead_shas, "doc_sha")
            self.wh.upsert("corpus_reps", new_reps.select("doc_sha", "rep"), key="doc_sha")
        if n and self.wh.exists("clusters"):
            self.recompute_clusters()
        return n

    def recompute_clusters(self) -> DataFrame:
        """CC over the surviving edges ∪ surviving vertices → overwrite
        ``clusters``. Edge sets are tiny relative to the corpus (matched pairs
        only), so this is cheap relative to a batch."""
        edges = self.edges()
        if edges is None:
            edges = self.wh.spark.createDataFrame([], "conv_id_a string, conv_id_b string, score double, method string")
        clusters = connected_components(
            edges,
            vertices=self.wh.read("corpus_docs").select("conv_id"),
            max_iterations=self.cfg.cc_max_iterations,
        )
        self._write_clusters(clusters)
        # re-seed the maintained row count (one row per surviving corpus conv;
        # purges are rare relative to batches, so one count here is fine)
        self.wh.set_meta("clusters", "n_rows", self.wh.read("clusters").count())
        return self.wh.read("clusters")

    def retention_sweep(self, now=None) -> int:
        """Daily TTL sweep (database.py:255-285): purge docs past retention,
        plus their bands, edges, and cluster rows."""
        if self.cfg.retention_days is None or not self.wh.exists("corpus_docs"):
            return 0
        now_col = now if now is not None else F.current_timestamp()
        docs = self.wh.read("corpus_docs")
        expired = docs.where(~within_retention(F.col("first_ts"), self.cfg.retention_days, now_col))
        return self._purge_keys(expired.select("conv_id"))

    def purge_deleted(self, tombstones: DataFrame) -> int:
        """Dead-link purge (database.py:88-94,653-676): remove tombstoned
        conversations from all state."""
        return self._purge_keys(tombstones.select("conv_id"))
