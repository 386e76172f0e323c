"""Structured Streaming wrapper around the batch mapper core.

The reference's runtime (SURVEY §3 EP1-EP3) maps as:

- Kinesis shard consumption + KCL checkpointing/lease FSM (717 LoC of shim,
  app/lib/kcl/*) -> `readStream` + `checkpointLocation`: the offset WAL + commit
  log give the same at-least-once replay. `MapperStream`'s sinks are plain
  appends (feature lake, dead-letter, emit, alerts) and its blacklist state is
  overwritten in place, so a batch replayed after a crash DUPLICATES its sink
  rows today, as the reference's replays do (its Redshift PK is unenforced).
  Exactly-once needs idempotent per-batch sinks, which are not built yet
  (ROADMAP item 4);
- base64+JSON decode (kcl_app.js:38,44) -> F.unbase64 + permissive from_json with a
  corrupt-record column (the try/catch at kcl_app.js:43-48);
- per-record metadata refresh-on-discrepancy (app/mapper.js:72-112) -> per-BATCH
  refresh: the registry is re-read at the top of every micro-batch, flattened
  and compared on the driver (an unchanged registry reuses last batch's kmap
  relation, see `metadata`), and the batch's discrepant rows are re-evaluated
  against it. Documented divergence (SURVEY §7):
  a record landing in the same batch as its metadata fix alerts once where the
  reference might not, and vice versa — the steady-state behavior is identical;
- alert blacklist (process memory, lost on crash) -> a persisted state table
  threaded through batches (durable across restarts).

In production the source is `spark.readStream.format("kinesis")
.option("streamName", "ObservationStream").option("startingPosition",
"trim_horizon")` (stream name/position per app/consumer/sample.properties:7,26);
tests use a file source with the same schema — the pipeline below is
source-agnostic.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from plenario_mapper_spark import metadata
from plenario_mapper_spark.operators import alerts as A
from plenario_mapper_spark.operators import mapper as M
from plenario_mapper_spark.sources.observations import (  # noqa: F401 (re-export)
    decode_kinesis_records,
    file_obs_source,
)


@dataclass
class StreamSinks:
    """Where a micro-batch lands. Lake mode: one typed parquet table per feature
    under lake_dir/<feature>, partitioned by network (the reference's per-feature
    DDL, schema-stable per table); the per-(network, feature) JDBC loop of the
    reference (app/mapper.js:282-290) is available via `per_feature_writer` for
    literal Redshift-style parity."""

    lake_dir: str
    dead_letter_dir: str
    emit_dir: str
    alert_dir: str
    state_dir: str
    per_feature_writer: Callable[[str, str, DataFrame], None] | None = None
    # literal-parity push hooks: socket.io 'internal_data' emit (app/mapper.js:292-296)
    # and the apiary alert POST (app/mapper.js:456,477). Each is invoked ON THE
    # EXECUTORS via foreachPartition, once per non-empty partition with that
    # partition's message rows as dicts — the reference emits worker-side per
    # record (app/mapper.js:292-296), and a driver-side collect of the emit
    # stream (one message per record x feature) would funnel the whole batch
    # through one process at 100 TB batch sizes. The callable must therefore be
    # picklable and open its own client (socket/HTTP) per invocation — the
    # per-process connection of the reference (app/mapper.js:16).
    emit_pusher: Callable[[list[dict]], None] | None = None
    alert_poster: Callable[[list[dict]], None] | None = None


def _partition_push(pusher: Callable[[list[dict]], None]):
    """Wrap a message-push callable for executor-side delivery: foreachPartition
    task fn that materializes the partition's rows as dicts and invokes the
    pusher once (skipping empty partitions). Runs in the Python worker process —
    no message row ever transits the driver."""

    def push(rows) -> None:
        batch = [r.asDict() for r in rows]
        if batch:
            pusher(batch)

    return push


class MapperStream:
    """foreachBatch driver: per-batch registry refresh + mapper + alert state."""

    def __init__(
        self,
        spark: SparkSession,
        metadata_provider: Callable[[SparkSession], tuple[DataFrame, DataFrame]],
        sinks: StreamSinks,
    ):
        self.spark = spark
        self.metadata_provider = metadata_provider
        self.sinks = sinks
        # stale registry starts empty — the reference's startup state
        # (map={}, type_map={}, app/mapper.js:36-40)
        self._stale_kmap = metadata.empty_kmap(spark)
        # driver-side kmap entries of the stale registry (metadata.kmap_entries);
        # None when the last refresh had no Python rows to flatten (a
        # streaming provider)
        self._stale_entries: dict | None = {}
        # sensors whose key map the last refresh changed (None: unknown)
        self.changed_sensors: frozenset[str] | None = frozenset()

    def _registry_unchanged(
        self, sensor_meta: DataFrame, feature_meta: DataFrame
    ) -> tuple[bool, dict | None]:
        """(stale kmap == fresh kmap, fresh kmap entries) for two pinned
        dimensions, and records `changed_sensors`. The registry is KB-sized by
        construction (schema registry, not data), so flattening and comparing
        it on the driver costs microseconds and saves the kmap rebuild and a
        full annotate pass over the batch in the steady state."""
        fresh = metadata.pinned_kmap(sensor_meta, feature_meta)
        if fresh is None or self._stale_entries is None:
            self.changed_sensors = None
            return False, fresh  # conservative: rebuild and run both passes
        self.changed_sensors = metadata.changed_sensors(self._stale_entries, fresh)
        return not self.changed_sensors, fresh

    # -- state table ----------------------------------------------------------
    def _load_blacklist(self) -> DataFrame:
        path = self.sinks.state_dir
        try:
            return self.spark.read.parquet(path)
        except Exception:
            return A.empty_blacklist(self.spark)

    def _save_blacklist(self, bl: DataFrame) -> None:
        bl.write.mode("overwrite").parquet(self.sinks.state_dir)

    # -- the micro-batch body -------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = self.spark
        # Label every sink job (guide §1.5) so the UI and the status store
        # attribute the batch's task time per sink instead of per batch id.
        sc = spark.sparkContext

        def _label(what: str) -> None:
            sc.setJobDescription(f"mapper[{batch_id}]: {what}")

        _label("registry refresh")
        # F3: refresh the registry once per batch (vs per-record in the ref).
        # Pin both dimensions HERE, once: at most one collect per dimension
        # (none when the provider returns local_rows frames, which keep their
        # rows), after which the flatten and the comparison with last batch's
        # registry run in plain Python. An unchanged kmap reuses last batch's
        # relation (no job, no literal); a changed one is built straight from
        # the entries just compared.
        sensor_meta, feature_meta = self.metadata_provider(spark)
        sensor_meta = metadata._pin_local(sensor_meta)
        feature_meta = metadata._pin_local(feature_meta)
        unchanged, fresh_entries = self._registry_unchanged(sensor_meta, feature_meta)
        if unchanged:
            fresh_kmap = self._stale_kmap
        elif fresh_entries is not None:
            fresh_kmap = metadata.kmap_relation(spark, fresh_entries).cache()
        else:
            mapping = metadata.build_mapping(sensor_meta, feature_meta)
            fresh_kmap = metadata.sensor_kmap(mapping).cache()
        registry = metadata.feature_registry(feature_meta)

        obs = batch_df.withColumn("seq", F.monotonically_increasing_id())
        # Spread the batch to cluster parallelism BEFORE the CPU-bound
        # annotate pass: a file-source micro-batch (one file per trigger,
        # often a single row group) arrives as ONE partition, which would pin
        # the pipeline's dominant cost to a single core. seq is assigned
        # FIRST — on the arrival-ordered input — so per-record order
        # semantics (last-wins alert transitions, dedup-by-first) survive
        # the round-robin redistribution. On a well-split production source
        # (many files / Kinesis shards) this is a metadata-only no-op.
        from plenario_mapper_spark.operators.partitioning import (
            spread_to_parallelism,
        )

        obs = spread_to_parallelism(obs)
        norm = M.normalize(obs)
        # Persist the annotation for the life of the batch: every sink below
        # (per-feature routes, dead-letter, emits, alert derivation) consumes
        # it, and the variant/HOF annotate pass is the pipeline's dominant
        # cost — without the cache each sink re-runs it (~4-5x per batch).
        # Each sink derives its output from the carried variant values, as
        # the one-shot queries do (see annotate for the measured reason).
        # In steady state the stale and fresh registry snapshots are IDENTICAL
        # (metadata changes are rare events), and annotate is a pure function of
        # (batch, registry) — so one pass serves both roles and the alert
        # comparison degenerates correctly (no transitions fire).
        fresh_ann = M.annotate(norm, fresh_kmap).persist()
        stale_all_discrepant = False
        if unchanged:
            stale_ann = fresh_ann
        elif self._stale_entries == {}:
            # EMPTY stale registry (the reference's startup state): annotating
            # against it would only prove that every record is a discrepancy
            # (kmap is NULL for every row), so skip the second full
            # variant/HOF pass over the batch — alert_events derives the
            # stale side from fresh_ann with discrepant == true. This is the
            # first (cold) micro-batch of every stream, which previously paid
            # the annotate cost twice.
            stale_ann = fresh_ann
            stale_all_discrepant = True
        else:
            # registry actually changed: the stale side only feeds the alert
            # join's per-row `discrepant` bit, so project just the columns
            # alert_events reads (the optimizer prunes the variant-map halves).
            # Consumed exactly once — no persist.
            stale_ann = M.annotate(norm, self._stale_kmap).select(
                "seq", "sensor", "_known", "bad_keys"
            )

        result = M.route(fresh_ann, registry)

        # clean rows -> one lake TABLE PER FEATURE (lake_dir/<feature>, partitioned
        # by network inside). Each feature table has its own stable typed schema —
        # mirroring the reference's per-feature DDL (tests/configure_tests.js:79-161)
        # — so readers of lake_dir/<feature> never need schema merging, and network
        # partition pruning applies on read. At 100 TB, add a time partition column
        # here; the loop is over the (small) registry, not the data.
        for feature, fdf in result.features.items():
            _label(f"feature sink {feature}")
            if self.sinks.per_feature_writer is not None:
                for net in [r["network"] for r in fdf.select("network").distinct().collect()]:
                    self.sinks.per_feature_writer(
                        net, feature, fdf.filter(F.col("network") == net)
                    )
            fdf.write.mode("append").partitionBy("network").parquet(
                os.path.join(self.sinks.lake_dir, feature)
            )

        _label("dead-letter sink")
        result.dead_letter.write.mode("append").partitionBy("network").parquet(
            self.sinks.dead_letter_dir
        )
        if self.sinks.emit_pusher is not None:
            # persist: the json write and the push run the emit derivation as
            # two jobs; one materialization serves both. Delivery semantics are
            # AT-LEAST-ONCE, matching the reference (fire-and-forget emits
            # under KCL replay, app/mapper.js:292-296): a retried partition
            # task re-invokes the pusher with the same rows, so receivers
            # dedupe on (node, datetime, feature) when exactly-once matters.
            result.emits.persist()
        _label("emit sink")
        result.emits.write.mode("append").json(self.sinks.emit_dir)
        if self.sinks.emit_pusher is not None:
            _label("emit push")
            result.emits.foreachPartition(_partition_push(self.sinks.emit_pusher))
            result.emits.unpersist()

        # F4: alert derivation + durable blacklist state
        _label("alert sink")
        blacklist = self._load_blacklist()
        # Persist the per-record EVENTS (seq, sensor, kind, messages): the
        # alert sink and the blacklist fold both consume them, and without the
        # cache each re-runs the fresh x stale discrepancy join and the
        # message rendering over the whole batch (measured ~2x the alert cost
        # per batch). Tiny relative to the batch (discrepant rows only).
        ev = A.alert_events(
            stale_ann, fresh_ann, stale_all_discrepant=stale_all_discrepant
        ).persist()
        alerts, new_blacklist = A.apply_blacklist(ev, blacklist)
        alerts.write.mode("append").json(self.sinks.alert_dir)
        if self.sinks.alert_poster is not None:
            alerts.foreachPartition(_partition_push(self.sinks.alert_poster))
        _label("blacklist state")
        new_bl = new_blacklist.collect()  # tiny (per-sensor)
        from plenario_mapper_spark.functions.local_rel import local_rows

        self._save_blacklist(
            local_rows(self.spark, new_bl, A.BLACKLIST_SCHEMA)
            if new_bl
            else A.empty_blacklist(self.spark)
        )
        sc.setJobDescription(None)

        ev.unpersist()
        fresh_ann.unpersist()
        # next batch validates against this batch's registry (the ref's cached
        # map); unpersist the OUTGOING kmap when it is replaced, or a
        # long-running stream leaks one cached registry per registry change
        # (no-op on the initial uncached empty_kmap).
        prev = self._stale_kmap
        self._stale_kmap, self._stale_entries = fresh_kmap, fresh_entries
        if prev is not fresh_kmap:
            prev.unpersist()

    def start(
        self,
        source: DataFrame,
        checkpoint_dir: str,
        trigger_once: bool = False,
    ):
        writer = (
            source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def jdbc_per_feature_writer(
    url: str,
    properties: dict[str, str] | None = None,
    table_fmt: str = "{network}__{feature}",
    batchsize: int = 1000,
) -> Callable[[str, str, DataFrame], None]:
    """Literal-parity sink: append each micro-batch's clean rows into one JDBC
    table per (network, feature), named `<network>__<feature>` like the
    reference's Redshift tables (app/mapper.js:282-290, 319-358; DDL
    tests/configure_tests.js:79-161). The network is encoded in the table name,
    not a column — dropped before the write, matching the DDL. Batched inserts
    replace the reference's one-INSERT-per-record fire-and-forget (:284); with
    foreachBatch replay the PK duplicates exactly as the reference's does, so
    idempotent parity is the lake sink, literal parity is this."""

    def write(network: str, feature: str, df: DataFrame) -> None:
        df.drop("network").write.mode("append").option(
            "batchsize", str(batchsize)
        ).jdbc(url, table_fmt.format(network=network, feature=feature),
               properties=properties or {})

    return write
