"""Table state + metrics/lineage sink.

The reference's "sinks" are an unindexed SQLite table plus append-only txt
logs (/root/reference/app.py:28-29,123-125; database.py:97-98,129-130). Here,
state is a warehouse directory of parquet tables behind one small interface:
the method surface is Iceberg-shaped (append / overwrite / merge-style upsert
/ delete-where), so pointing it at a real Iceberg catalog on the cluster is a
local change (the sandbox has no Iceberg jars — noted, not hidden).

Lineage/metrics: every pipeline stage appends rows to ``_metrics``
(run_id, stage, rows_out, wall_s, extra) — the explicit
per-partition lineage the north rule demands, replacing errs.txt-style logs.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p))

    def read(self, table: str) -> DataFrame:
        df = self._read_raw(table)
        # _bucket is internal layout (hash-bucket partition column), not schema
        return df.drop("_bucket") if "_bucket" in df.columns else df

    def _read_raw(self, table: str) -> DataFrame:
        """Parquet read with an empty-table fallback: a delete that empties a
        partitioned table leaves no files to infer from, so the schema stored
        in the table meta (at write time) reconstructs a 0-row frame."""
        try:
            return self.spark.read.parquet(self._path(table))
        except Exception:
            meta = self._read_table_meta(table)
            if "schema" in meta:
                from pyspark.sql.types import StructType

                return self.spark.createDataFrame([], StructType.fromJson(json.loads(meta["schema"])))
            raise

    # -- per-table layout metadata (bucketing) -------------------------------
    def _meta_path(self, table: str) -> str:
        return f"{self.root}/{table}._meta.json"

    def _read_table_meta(self, table: str) -> dict:
        p = self._meta_path(table)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _write_table_meta(self, table: str, meta: dict) -> None:
        with open(self._meta_path(table), "w") as f:
            json.dump(meta, f)

    def get_meta(self, table: str, key: str, default=None):
        """Read one key from the table's layout/stats metadata (e.g. a
        maintained row count — Iceberg snapshot-summary analog). Returns
        ``default`` when absent."""
        return self._read_table_meta(table).get(key, default)

    def set_meta(self, table: str, key: str, value) -> None:
        """Read-modify-write one metadata key, preserving layout keys
        (n_buckets/bucket_key/schema)."""
        meta = self._read_table_meta(table)
        meta[key] = value
        self._write_table_meta(table, meta)

    def overwrite(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def append(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        meta = self._read_table_meta(table)
        if meta.get("n_buckets"):
            df = df.withColumn("_bucket", self._bucket_col(meta["bucket_key"], int(meta["n_buckets"])))
            df.write.mode("append").partitionBy("_bucket").parquet(self._path(table))
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def append_bucketed(self, table: str, df: DataFrame, key: str, n_buckets: int) -> None:
        """Append rows into a hash-bucketed layout (``_bucket =
        pmod(xxhash64(key), n_buckets)``), creating the table + meta on first
        write. Unlike :meth:`upsert` there is no key dedup — this is the
        Iceberg ``bucket(key)``-partitioned APPEND for tables whose key is not
        unique (e.g. corpus_bands: many rows per band_hash)."""
        df2 = df.withColumn("_bucket", self._bucket_col(key, n_buckets))
        if not self.exists(table):
            df2.write.mode("overwrite").partitionBy("_bucket").parquet(self._path(table))
            self._write_table_meta(
                table, {"n_buckets": n_buckets, "bucket_key": key, "schema": df2.schema.json()}
            )
            return
        df2.write.mode("append").partitionBy("_bucket").parquet(self._path(table))

    def read_bucket_pruned(
        self,
        table: str,
        keys: DataFrame,
        key_col: str,
        touched: list[int] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Read only the buckets that can contain ``keys[key_col]`` values —
        scan-time partition pruning for probe workloads. Returns (frame,
        {"buckets_read", "buckets_total"}); falls back to a full read when the
        table isn't bucketed on ``key_col``. The touched-bucket list is ≤
        n_buckets small ints (bounded driver value, not a key collect).

        ``touched`` lets a caller pass a PRE-COMPUTED bucket-id list (fused
        into an aggregate it already ran — one job instead of two); it must
        cover every key's bucket under the table's own hash
        (pmod(xxhash64(key), n_buckets)) or rows are silently missed."""
        meta = self._read_table_meta(table)
        n = meta.get("n_buckets")
        if not n or meta.get("bucket_key") != key_col:
            return self.read(table), {"buckets_read": None, "buckets_total": n}
        if touched is None:
            kname = keys.columns[0] if key_col not in keys.columns else key_col
            kb = keys.select(
                F.pmod(F.xxhash64(F.col(kname)), F.lit(int(n))).cast("int").alias("_b")
            ).distinct()
            touched = [r["_b"] for r in kb.collect()]
        df = self._read_raw(table).where(F.col("_bucket").isin(touched)).drop("_bucket")
        return df, {"buckets_read": len(touched), "buckets_total": int(n)}

    def upsert(
        self,
        table: str,
        df: DataFrame,
        key: str | list[str],
        n_buckets: int | None = None,
        touched: list[int] | None = None,
    ) -> dict:
        """MERGE-style idempotent upsert (reference ST5: re-sweeps tolerated
        because the Url probe short-circuits, database.py:328-358).

        Parquet rendering of ``MERGE INTO t USING df ON t.key = df.key WHEN
        MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``: existing rows not
        in df are kept, df wins on key collision.

        Layouts:
        - **bucketed** (``n_buckets`` at creation, persisted in table meta):
          the table is partitioned by ``_bucket = pmod(xxhash64(key),
          n_buckets)`` and a merge REWRITES ONLY THE BUCKETS THE BATCH
          TOUCHES (dynamic partition overwrite) — I/O proportional to the
          batch, not the corpus. This is the parquet rendering of an Iceberg
          ``bucket(key)``-partitioned MERGE; swapping in a real catalog keeps
          the call sites unchanged.
        - **flat** (no buckets): full staging-dir rewrite + rename — only for
          small tables (metrics, demo state).

        Returns {"rows_written", "buckets_touched", "buckets_total"} so
        callers can record merge I/O in the metrics lineage.

        ``touched``: pre-computed SUPERSET of the batch rows' bucket ids
        (fused into an aggregate the caller already ran — saves the internal
        bucket-id collect job). Must cover every df row's bucket under
        pmod(xxhash64(keys[0]), n_buckets): a df row in an unlisted bucket
        raises ``ValueError`` before any bucket is swapped, leaving the table
        unchanged. Extra listed buckets are read and rewritten
        byte-identically (safe).
        """
        keys = [key] if isinstance(key, str) else list(key)
        meta = self._read_table_meta(table)
        n_buckets = n_buckets or meta.get("n_buckets")
        if n_buckets:
            return self._upsert_bucketed(table, df, keys, int(n_buckets), touched)
        if not self.exists(table):
            self.overwrite(table, df)
            return {"rows_written": None, "buckets_touched": None, "buckets_total": None}
        current = self.read(table)
        merged = current.join(df.select(*keys).distinct(), keys, "left_anti").unionByName(df)
        self.upsert_replace(table, merged)
        return {"rows_written": None, "buckets_touched": None, "buckets_total": None}

    def _bucket_col(self, key: str, n_buckets: int):
        return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")

    def _upsert_bucketed(
        self,
        table: str,
        df: DataFrame,
        keys: list[str],
        n_buckets: int,
        touched: list[int] | None = None,
    ) -> dict:
        """Bucketed MERGE. Buckets hash on ``keys[0]``; the matched-row
        rewrite anti-joins on ALL key columns (composite keys supported, e.g.
        edges on (conv_id_a, conv_id_b) bucketed by conv_id_a)."""
        path = self._path(table)
        df2 = df.withColumn("_bucket", self._bucket_col(keys[0], n_buckets))
        if not self.exists(table):
            df2.write.mode("overwrite").partitionBy("_bucket").parquet(path)
            self._write_table_meta(
                table,
                {"n_buckets": n_buckets, "bucket_key": keys[0], "merge_keys": keys, "schema": df2.schema.json()},
            )
            # _read_raw, not spark.read: a 0-row create leaves no parquet
            # files to infer from — the meta schema reconstructs the frame
            n = self._read_raw(table).count()
            return {"rows_written": n, "buckets_touched": n_buckets, "buckets_total": n_buckets}
        if touched is None:
            # the touched-bucket list is ≤ n_buckets small ints — a bounded
            # driver-side value, NOT a key collect
            touched = [r["_bucket"] for r in df2.select("_bucket").distinct().collect()]
        if not touched:  # empty batch: nothing to merge, nothing rewritten
            return {"rows_written": 0, "buckets_touched": 0, "buckets_total": n_buckets}
        current = self._read_raw(table).where(F.col("_bucket").isin(touched))
        merged = current.join(df2.select(*keys).distinct(), keys, "left_anti").unionByName(df2)
        # Stage the merged buckets beside the table, then SWAP the touched
        # bucket partitions in (the upsert_replace protocol, per-bucket): the
        # staged write reads the live files from a DIFFERENT output path, so
        # there is no read-then-overwrite hazard and no materialize-first
        # count job — ONE Spark job per merge instead of the old
        # checkpoint-count + dynamic-overwrite pair (the micro-batch pays a
        # driver floor per job launch, BENCH/BASELINE.md).
        # repartition on _bucket: one task → one file per rewritten bucket
        # (same small-file rationale as upsert_replace); the shuffle moves
        # only the touched buckets' rows, already ∝ batch.
        import shutil

        import pyarrow.parquet as pq

        staged = self._path(f"_staging_{table}_{uuid.uuid4().hex[:8]}")
        merged.repartition(F.col("_bucket")).write.mode("overwrite").partitionBy(
            "_bucket"
        ).parquet(staged)
        unlisted = sorted(
            {int(d.split("=", 1)[1]) for d in os.listdir(staged) if d.startswith("_bucket=")}
            - set(touched)
        )
        if unlisted:
            # swapping only the listed buckets would drop these rows
            shutil.rmtree(staged, ignore_errors=True)
            raise ValueError(f"upsert into {table}: rows in buckets {unlisted} not in touched")
        rows = 0
        for b in touched:
            src = f"{staged}/_bucket={b}"
            dst = f"{path}/_bucket={b}"
            if not os.path.isdir(src):
                # superset-listed bucket with no current AND no batch rows —
                # nothing staged, nothing to replace (a bucket whose current
                # rows were all matched still stages the replacing df2 rows,
                # so an existing dst always has a staged src)
                continue
            rows += sum(
                pq.ParquetFile(os.path.join(src, f)).metadata.num_rows
                for f in os.listdir(src)
                if f.endswith(".parquet")
            )
            if os.path.isdir(dst):
                tmp_old = f"{path}/_old_bucket_{b}_{uuid.uuid4().hex[:8]}"
                os.rename(dst, tmp_old)
                os.rename(src, dst)
                shutil.rmtree(tmp_old, ignore_errors=True)
            else:
                os.rename(src, dst)
        shutil.rmtree(staged, ignore_errors=True)
        return {"rows_written": rows, "buckets_touched": len(touched), "buckets_total": n_buckets}

    def delete_keys(
        self,
        table: str,
        keys: DataFrame,
        cols: list[str] | str,
        prune_hint: DataFrame | None = None,
    ) -> int:
        """DELETE FROM table WHERE any of ``cols`` ∈ keys — as LEFT ANTI joins
        against the keys DATAFRAME. Keys are never collected to the driver
        (the r1 cut built ``isin`` literal lists — driver OOM / plan blowup
        when a sweep expires millions of rows). Returns rows deleted.

        Callers whose ``keys`` derive from THIS table must materialize them
        first (``localCheckpoint``) — the rewrite swaps the underlying files.

        Bucketed tables: only buckets that can contain the doomed rows are
        read and rewritten; buckets left empty are dropped explicitly (dynamic
        overwrite can't write an empty partition). Pruning engages when
        (a) deleting ON the bucket key (buckets derived from ``keys``), or
        (b) the caller supplies ``prune_hint`` — a single-column frame of
        BUCKET-KEY values covering every doomed row (e.g. recomputed band
        hashes of the conv_ids being purged). The hint must be COMPLETE:
        a doomed row living in a bucket the hint misses survives silently,
        so hints are only valid when the bucket-key values of the doomed rows
        are deterministically derivable from the delete keys.
        """
        cols = [cols] if isinstance(cols, str) else list(cols)
        if not self.exists(table):
            return 0
        kname = keys.columns[0]
        keys = keys.select(F.col(kname).alias("_k")).distinct()
        meta = self._read_table_meta(table)
        n_buckets = meta.get("n_buckets")
        if n_buckets and cols == [meta.get("bucket_key")]:
            touched = self._touched_buckets(keys, "_k", int(n_buckets))
            return self._delete_in_buckets(table, touched, keys, cols)
        if n_buckets and prune_hint is not None:
            hcol = prune_hint.columns[0]
            touched = self._touched_buckets(prune_hint, hcol, int(n_buckets))
            return self._delete_in_buckets(table, touched, keys, cols)
        current = self._read_raw(table)
        keep = current
        for c in cols:
            keep = keep.join(keys.withColumnRenamed("_k", c), c, "left_anti")
        n_before = current.count()
        n_after = keep.count()
        if n_after < n_before:
            self.upsert_replace(table, keep)
        return n_before - n_after

    def _touched_buckets(self, vals: DataFrame, col: str, n_buckets: int) -> list[int]:
        """Bucket ids the given bucket-key values hash into — ≤ n_buckets
        small ints, a bounded driver value (never a key collect)."""
        kb = vals.select(
            F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int").alias("_bucket")
        )
        return [r["_bucket"] for r in kb.distinct().collect()]

    def _delete_in_buckets(
        self, table: str, touched: list[int], keys: DataFrame, cols: list[str]
    ) -> int:
        """Anti-join delete restricted to the given bucket partitions: read
        only those, drop rows with any of ``cols`` ∈ keys(_k), dynamic-
        overwrite the survivors — I/O ∝ touched buckets, not the table."""
        import shutil

        if not touched:
            return 0
        path = self._path(table)
        current = self._read_raw(table).where(F.col("_bucket").isin(touched))
        keep = current
        for c in cols:
            keep = keep.join(keys.withColumnRenamed("_k", c), c, "left_anti")
        # lazy: the n_after count below materializes the checkpoint (one job)
        keep = keep.localCheckpoint(eager=False)
        n_before = current.count()
        n_after = keep.count()
        if n_after == n_before:
            return 0
        remaining = {r["_bucket"] for r in keep.select("_bucket").distinct().collect()}
        keep.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            "_bucket"
        ).parquet(path)
        for b in set(touched) - remaining:  # fully-emptied buckets
            shutil.rmtree(f"{path}/_bucket={b}", ignore_errors=True)
        return n_before - n_after

    def delete_where(self, table: str, condition) -> int:
        """Row-level delete by COLUMN PREDICATE (age gates, quality floors) —
        filter + rewrite (Iceberg: DELETE FROM … WHERE). For key-set deletes
        use :meth:`delete_keys`; a predicate built from a collected key list
        is the driver-OOM anti-pattern. Returns rows deleted."""
        if not self.exists(table):
            return 0
        current = self.read(table).cache()
        keep = current.where(~condition)
        n_del = current.count() - keep.count()
        if n_del:
            self.upsert_replace(table, keep)
        current.unpersist()
        return n_del

    def upsert_replace(self, table: str, df: DataFrame) -> None:
        """Atomic-enough full-table swap: write to a staging dir, rename over
        the final path (never overwrite a path mid-read). Preserves bucket
        partitioning when the table has it.

        Bucketed swaps repartition ON the bucket column first: without it,
        every upstream task writes one file PER bucket value it holds
        (measured 527 files for a 16-bucket clusters table — each later scan
        paid the listing + footer cost), and with it each bucket is exactly
        one task → one file. One-task-per-bucket is the warehouse's
        parallelism contract everywhere else (the merge path rewrites whole
        buckets too); at scale ``n_buckets`` is the knob that sizes both."""
        meta = self._read_table_meta(table)
        staged = self._path(f"_staging_{table}_{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite")
        if meta.get("n_buckets"):
            if "_bucket" not in df.columns:
                df = df.withColumn(
                    "_bucket", self._bucket_col(meta["bucket_key"], int(meta["n_buckets"]))
                )
            w = df.repartition(F.col("_bucket")).write.mode("overwrite").partitionBy("_bucket")
        w.parquet(staged)
        final = self._path(table)
        if os.path.isdir(final):
            tmp_old = self._path(f"_old_{table}_{uuid.uuid4().hex[:8]}")
            os.rename(final, tmp_old)
            os.rename(staged, final)
            import shutil

            shutil.rmtree(tmp_old, ignore_errors=True)
        else:
            os.rename(staged, final)


class MetricsSink:
    """Accumulates stage metrics and flushes them to ``_metrics`` parquet."""

    def __init__(self, warehouse: Warehouse, run_id: str | None = None):
        self.warehouse = warehouse
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.rows: list[dict] = []

    # Explicit schema: ``flush`` must never rely on type inference — an
    # all-None column raises CANNOT_DETERMINE_TYPE on sessions where Arrow
    # conversion is disabled (the PySpark default), even though it happens to
    # work when ``spark.sql.execution.arrow.pyspark.enabled`` is true.
    _SCHEMA = T.StructType(
        [
            T.StructField("run_id", T.StringType()),
            T.StructField("stage", T.StringType()),
            T.StructField("wall_s", T.DoubleType()),
            T.StructField("rows_out", T.LongType()),
            T.StructField("extra", T.StringType()),
            T.StructField("recorded_at", T.DoubleType()),
        ]
    )

    def record_count(self, stage: str, rows_out: int, wall_s: float | None = None, **extra) -> None:
        self.rows.append(
            {
                "run_id": self.run_id,
                "stage": stage,
                "wall_s": float(wall_s) if wall_s is not None else None,
                "rows_out": int(rows_out),
                "extra": json.dumps(extra, default=str),
                "recorded_at": time.time(),
            }
        )

    def flush(self) -> None:
        if not self.rows:
            return
        df = self.warehouse.spark.createDataFrame(
            [tuple(r[f.name] for f in self._SCHEMA.fields) for r in self.rows],
            schema=self._SCHEMA,
        )
        self.warehouse.append("_metrics", df)
        self.rows = []
