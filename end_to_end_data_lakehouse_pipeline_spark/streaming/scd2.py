"""Streaming CDC -> SCD Type-2 dimension maintenance.

The lakehouse composition the reference runs in two separate layers —
streaming ingest (streaming_bronze.py micro-batches) and silver history
maintenance (batch_silver.py latest-state MERGE) — fused into one
foreachBatch sink that keeps a *versioned* dimension current:

1. each micro-batch lands in an append-only bronze area, one directory
   per batch id (overwritten on checkpoint replay -> idempotent);
2. the touched-key set is collected (bounded driver list, S12 shape);
3. intervals for ONLY the touched keys are recomputed from bronze —
   partial recompute, O(touched keys), never O(dimension);
4. the dimension table (parquet partitioned by PK-hash bucket) replaces
   just the touched buckets via dynamic partition overwrite — untouched
   buckets' files are never rewritten, so a batch's cost follows the
   keys it touches, not the dimension's size.

Recompute-from-bronze (rather than interval-patching) makes the final
dimension a pure function of the bronze contents: any batch split, any
arrival order, and any checkpoint replay converge to the same table —
the multi-batch property tests assert exactly that.

Hot-key mitigation (``compact_every`` + ``lateness``): the recompute is
O(touched keys' history), so a Zipf hot key touched every batch pays a
per-batch cost that GROWS with its history (measured: 47.5K rows
re-read per batch at 100x Zipf, tools/stateful_skew_rehearsal.py). With
compaction enabled, every ``compact_every``-th batch folds the bronze
history older than the watermark (max event time seen minus
``lateness``) into VALUE-RUN summaries — one weighted row per maximal
same-value run per key, ``_n`` carrying the collapsed event count so
``n_events`` stays exact. Per-batch hot-key work then scales with the
key's number of VALUE CHANGES plus its within-lateness raw tail, not
its lifetime event count. The watermark contract is the standard one:
events arriving later than ``lateness`` behind the max seen event time
may land inside an already-collapsed run and split it differently than
a full recompute would — within the bound, compacted and uncompacted
sinks are provably identical (the below-watermark prefix of each key's
(ts, tiebreak)-ordered stream collapses run-by-run; tests assert exact
equality with the batch recompute). A manifest (``_compaction.json``,
write-to-temp + atomic rename) records which batch directories each
compaction generation supersedes, so a crash between manifest commit
and directory deletion never double-counts, and the current micro-batch
directory is never folded (it alone can be redelivered on checkpoint
replay).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.streaming import StreamingQuery

from ..operators.scd import scd2_intervals

BUCKET_COL = "_pk_bucket"
WEIGHT_COL = "_n"
MANIFEST = "_compaction.json"


class Scd2DimensionSink:
    """foreachBatch sink maintaining an SCD2 dimension from a change
    stream. ``key``/``ts``/``tiebreak``/``value`` as in
    :func:`scd2_intervals`."""

    def __init__(
        self,
        spark: SparkSession,
        bronze_path: str,
        dim_path: str,
        key: str,
        ts: str,
        tiebreak: str,
        value: str,
        n_buckets: int = 16,
        compact_every: int | None = None,
        lateness: str = "1 hour",
    ):
        self.spark = spark
        self.bronze_path = bronze_path
        self.dim_path = dim_path
        self.key, self.ts, self.tiebreak, self.value = key, ts, tiebreak, value
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        self.lateness = lateness
        self._batches_since_compact = 0

    def _bucket(self):
        # hash the string-cast key: xxhash64 is dtype-sensitive
        # (xxhash64(int 5) != xxhash64(bigint 5)), so a batch whose key
        # arrives at a narrower integer width than the stored rows would
        # land in another bucket and duplicate the key
        return F.pmod(
            F.xxhash64(F.col(self.key).cast("string")), F.lit(self.n_buckets)
        ).cast("int")

    def _dim_exists(self) -> bool:
        return os.path.isdir(self.dim_path) and any(
            n.startswith(f"{BUCKET_COL}=") for n in os.listdir(self.dim_path)
        )

    # -- bronze layout: batch dirs + compaction generations ---------------

    def _manifest(self) -> dict:
        p = os.path.join(self.bronze_path, MANIFEST)
        if not os.path.isfile(p):
            return {"gen": 0, "covered": []}
        with open(p) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        p = os.path.join(self.bronze_path, MANIFEST)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, p)  # atomic commit of the compaction

    def _bronze_dirs(self, manifest: dict | None = None) -> list[str]:
        """Live bronze inputs: the current compaction generation (if any)
        plus every batch dir the manifest does not mark as folded in."""
        m = manifest if manifest is not None else self._manifest()
        covered = set(m["covered"])
        out = []
        if m["gen"] > 0:
            out.append(os.path.join(self.bronze_path, f"compacted_{m['gen']}"))
        for n in sorted(os.listdir(self.bronze_path)):
            if n.startswith("batch_") and n not in covered:
                out.append(os.path.join(self.bronze_path, n))
        return out

    def _read_bronze(self) -> DataFrame:
        return self.spark.read.parquet(*self._bronze_dirs())

    def upsert_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cols = [self.key, self.ts, self.tiebreak, self.value]
        batch = (
            batch_df.select(*cols)
            .withColumn(BUCKET_COL, self._bucket())
            .withColumn(WEIGHT_COL, F.lit(1).cast("long"))
        )
        # 1. bronze landing, one dir per batch id: a redelivered batch
        #    OVERWRITES its own directory, so replay never duplicates
        #    events (the dedup_stream redelivery lesson).
        batch.write.mode("overwrite").parquet(
            os.path.join(self.bronze_path, f"batch_{batch_id}")
        )
        # 2. touched keys + buckets (bounded: distinct keys of one batch)
        touched_buckets = [
            r[BUCKET_COL] for r in batch.select(BUCKET_COL).distinct().collect()
        ]
        bronze = self._read_bronze()
        touched_keys = batch.select(self.key).distinct()
        # 3. partial recompute: intervals for touched keys only. The join
        #    with the batch's key set restricts the window work to
        #    O(touched keys' history); bucket pruning on bronze would
        #    need partitioned bronze — the filter keeps it correct either
        #    way and the scan prunes via parquet row-group stats.
        relevant = bronze.filter(
            F.col(BUCKET_COL).isin(touched_buckets)
        ).join(touched_keys, self.key)
        recomputed = scd2_intervals(
            relevant.drop(BUCKET_COL),
            key=self.key,
            ts=self.ts,
            tiebreak=self.tiebreak,
            value=self.value,
            weight=WEIGHT_COL,
        ).withColumn(BUCKET_COL, self._bucket())
        if not self._dim_exists():
            (
                recomputed.repartition(max(len(touched_buckets), 1), BUCKET_COL)
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(self.dim_path)
            )
            return
        # 4. replace touched buckets: keep other keys' rows living in the
        #    same buckets, swap in the recomputed intervals for touched
        #    keys, dynamic-overwrite ONLY those bucket directories.
        current = self.spark.read.parquet(self.dim_path).filter(
            F.col(BUCKET_COL).isin(touched_buckets)
        )
        kept = current.join(touched_keys, self.key, "left_anti")
        out = kept.select(*self._dim_cols()).unionByName(
            recomputed.select(*self._dim_cols())
        )
        (
            out.repartition(len(touched_buckets), BUCKET_COL)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.dim_path)
        )
        if self.compact_every:
            self._batches_since_compact += 1
            if self._batches_since_compact >= self.compact_every:
                self.compact(exclude=f"batch_{batch_id}")
                self._batches_since_compact = 0

    def compact(self, exclude: str | None = None) -> None:
        """Fold all committed bronze batch dirs (never ``exclude`` — the
        in-flight batch, which alone can be redelivered) plus the previous
        compaction generation into one generation: rows older than the
        watermark (max event time seen minus ``lateness``) collapse into
        per-key value-run summaries with ``_n`` = collapsed event count;
        younger rows pass through raw. n_events-exact because every key's
        below-watermark rows are a (ts, tiebreak)-ordered PREFIX of its
        stream — run collapse of a prefix commutes with the final
        interval recompute as long as no later event lands inside it
        (the ``lateness`` contract)."""
        manifest = self._manifest()
        dirs = self._bronze_dirs(manifest)
        batch_dirs = [d for d in dirs if os.path.basename(d).startswith("batch_")]
        if exclude is not None:
            batch_dirs = [d for d in batch_dirs if os.path.basename(d) != exclude]
        if not batch_dirs:
            return
        gen_dir = (
            [d for d in dirs if os.path.basename(d).startswith("compacted_")] or []
        )
        src = self.spark.read.parquet(*(gen_dir + batch_dirs))
        wm = src.agg(
            F.max(self.ts) - F.expr(f"INTERVAL {self.lateness}")
        ).first()[0]
        below = src.filter(F.col(self.ts) < F.lit(wm))
        above = src.filter(~(F.col(self.ts) < F.lit(wm)))
        worder = Window.partitionBy(self.key).orderBy(self.ts, self.tiebreak)
        runs = below.withColumn(
            "_chg",
            F.when(
                F.lag(self.value).over(worder).isNull()
                | (F.lag(self.value).over(worder) != F.col(self.value)),
                1,
            ).otherwise(0),
        ).withColumn(
            "_run_id",
            F.sum("_chg").over(worder.rowsBetween(Window.unboundedPreceding, 0)),
        )
        collapsed = runs.groupBy(self.key, "_run_id").agg(
            F.min(F.struct(self.ts, self.tiebreak)).alias("_first"),
            F.min(self.value).alias(self.value),
            F.sum(WEIGHT_COL).cast("long").alias(WEIGHT_COL),
        ).select(
            self.key,
            F.col(f"_first.{self.ts}").alias(self.ts),
            F.col(f"_first.{self.tiebreak}").alias(self.tiebreak),
            self.value,
            WEIGHT_COL,
        ).withColumn(BUCKET_COL, self._bucket())
        out = collapsed.unionByName(
            above.select(
                self.key, self.ts, self.tiebreak, self.value, WEIGHT_COL, BUCKET_COL
            )
        )
        new_gen = manifest["gen"] + 1
        new_dir = os.path.join(self.bronze_path, f"compacted_{new_gen}")
        out.repartition(self.n_buckets, BUCKET_COL).write.mode("overwrite").parquet(
            new_dir
        )
        covered = sorted(
            set(manifest["covered"]) | {os.path.basename(d) for d in batch_dirs}
        )
        # atomic commit: after this rename, reads use the new generation
        # and ignore the covered batch dirs — deleting them is cleanup,
        # not correctness, so a crash mid-delete never double-counts.
        self._write_manifest({"gen": new_gen, "covered": covered})
        for d in batch_dirs + gen_dir:
            shutil.rmtree(d, ignore_errors=True)

    def _dim_cols(self) -> list[str]:
        """Stable column order for the dimension table."""
        return [
            self.key,
            self.value,
            "valid_from",
            "valid_to",
            "n_events",
            "is_current",
            BUCKET_COL,
        ]

    def read_dim(self) -> DataFrame:
        return self.spark.read.parquet(self.dim_path).drop(BUCKET_COL)

    def sink(
        self,
        stream: DataFrame,
        checkpoint_path: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        writer = stream.writeStream.foreachBatch(self.upsert_batch).option(
            "checkpointLocation", checkpoint_path
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def cleanup(self) -> None:
        shutil.rmtree(self.bronze_path, ignore_errors=True)
        shutil.rmtree(self.dim_path, ignore_errors=True)
