"""Alerting: error/resolve messages with blacklist dedup.

Reference semantics (app/mapper.js:72-112, 429-489):

- A record that hits a discrepancy against the CURRENT registry (unknown sensor,
  unknown key, coercion error, or empty registry at startup) triggers a metadata
  refresh, then re-branches against the FRESH registry:
    * sensor still unknown  -> error "does_not_exist"
    * keys/types still bad  -> error "invalid_key" (one message per unknown-key set
                               + one per coercion error)
    * refresh fixed it      -> "resolve"
- Error POSTs are deduplicated per sensor via an in-memory blacklist: the first
  error for a sensor POSTs and blacklists it; later errors are suppressed until a
  resolve un-blacklists (send_error :455-468). Resolves ALWAYS post — even for
  sensors never blacklisted (send_resolve :476-489, branch :98-104).

Spark-first shape: the per-record refresh becomes a two-snapshot evaluation per
micro-batch (stale registry = what the stream was validated against; fresh registry
= the re-read). The blacklist becomes an explicit keyed state DataFrame
(sensor -> blacklisted) threaded through batches — durable across restarts, an
upgrade over the reference's process-memory set. Alert volume is tiny (per-sensor,
not per-record), so the per-sensor ordered fold is a cheap window over a small
grouped frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from plenario_mapper_spark.functions import coercion as C
from plenario_mapper_spark.operators.mapper import _memo

BLACKLIST_SCHEMA = "sensor string"


def empty_blacklist(spark) -> DataFrame:
    from plenario_mapper_spark.functions.local_rel import local_rows

    return local_rows(spark, [], BLACKLIST_SCHEMA)


def _dne_message() -> F.Column:
    # 'Sensor x not found in sensor metadata for network n. Please add this sensor.'
    # (app/mapper.js:431-434)
    return F.concat(
        F.lit("Sensor "),
        F.col("sensor"),
        F.lit(" not found in sensor metadata for network "),
        F.col("network"),
        F.lit(". Please add this sensor."),
    )


def _unknown_keys_message() -> F.Column:
    # JS array .toString() joins with bare commas, and the template lacks a space
    # before 'from' (app/mapper.js:437-441) — reproduced verbatim.
    return F.concat(
        F.lit("Received data from sensor "),
        F.col("sensor"),
        F.lit(" with unknown key(s) "),
        F.array_join("invalid_keys", ","),
        F.lit("from network "),
        F.col("network"),
        F.lit(". Please update the keys and properties in this sensors metadata."),
    )


def _coercion_messages() -> F.Column:
    # One message per coercion-error key (app/mapper.js:443-451), using the ORIGINAL
    # value (errors[key] snapshots it) and its JS typeof.
    kmap = F.col("kmap")
    return F.transform(
        "error_keys",
        lambda k: F.concat(
            F.lit("Property "),
            F.element_at(kmap, k)["property"],
            F.lit(" of sensor "),
            F.col("sensor"),
            F.lit(" expected type "),
            F.coalesce(F.element_at(kmap, k)["type"], F.lit("undefined")),
            F.lit(" and could not correctly coerce value "),
            C.js_string(F.element_at(F.col("data"), k)),
            F.lit(" of type "),
            C.js_typeof(F.element_at(F.col("data"), k)),
        ),
    )


def alert_events(
    stale_annotated: DataFrame,
    fresh_annotated: DataFrame,
    order_col: str = "seq",
    stale_all_discrepant: bool = False,
) -> DataFrame:
    """Per-record alert events BEFORE blacklist dedup.

    `stale_annotated` / `fresh_annotated` are mapper.annotate outputs of the same
    batch against the two registry snapshots; rows are matched by `order_col`
    (a stable per-record sequence the caller attaches before annotating).
    Returns (seq, sensor, kind ∈ {error, resolve}, messages array).

    `stale_all_discrepant=True` asserts the stale registry was EMPTY (the
    reference's startup state, map == {}): annotated against it, kmap is NULL
    for every row, so discrepant == true without running the annotate pass —
    the caller passes fresh_annotated for both sides and skips a full
    variant/HOF pass over the batch (streaming/pipeline.py batch 1).
    """
    discrepant = _memo(("alert_events.discrepant",), _discrepant)
    out_cols = _memo(("alert_events", order_col), lambda: _alert_event_cols(order_col))
    if stale_annotated is fresh_annotated:
        # Same frame on both sides — the steady state (registry unchanged) and
        # the startup state (stale empty, flag set). The join on the unique
        # order_col would match every row to ITSELF, so the row's own
        # discrepancy bit decides directly: same rows, no shuffle, no
        # sort-merge self-join over the whole batch (measured ~14 executor
        # task-sec per 100k-row batch for the join form on cached input).
        df = (
            fresh_annotated
            if stale_all_discrepant
            else fresh_annotated.filter(discrepant)
        )
    else:
        stale_cols = _memo(
            ("alert_events.stale", order_col, stale_all_discrepant),
            lambda: [
                F.col(order_col),
                F.col("sensor").alias("_s_sensor"),
                (F.lit(True) if stale_all_discrepant else discrepant).alias("discrepant"),
            ],
        )
        stale = stale_annotated.select(*stale_cols)
        fresh = fresh_annotated.alias("f")
        df = fresh.join(stale.filter("discrepant"), order_col, "inner")
    return df.select(*out_cols)


def _discrepant() -> F.Column:
    return ~F.col("_known") | (F.size("bad_keys") > 0)


def _alert_event_cols(order_col: str) -> list[F.Column]:
    unknown_sensor = ~F.col("_known")
    still_bad = F.size("bad_keys") > 0

    kind = (
        F.when(unknown_sensor | still_bad, F.lit("error"))
        .otherwise(F.lit("resolve"))
    )
    messages = (
        F.when(unknown_sensor, F.array(_dne_message()))
        .when(
            still_bad,
            F.concat(
                F.when(
                    F.size("invalid_keys") > 0, F.array(_unknown_keys_message())
                ).otherwise(F.array().cast("array<string>")),
                _coercion_messages(),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    return [
        F.col(order_col).alias("seq"),
        F.col("sensor"),
        kind.alias("kind"),
        messages.alias("messages"),
    ]


def apply_blacklist(
    events: DataFrame, blacklist: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fold the per-sensor event sequence through the blacklist state machine.

    Emits: every resolve; errors only when the sensor is not currently blacklisted.
    State transition: error -> blacklisted, resolve -> un-blacklisted
    (send_error/send_resolve, app/mapper.js:455-489).

    Returns (alerts, new_blacklist). alerts carries (seq, sensor, kind, value) where
    value is "resolve" or the JSON array of messages — the exact POST payload shape
    {name, value} (app/mapper.js:458-462).
    """
    c = _memo(("apply_blacklist",), _blacklist_cols)
    carried = blacklist.select(*c["carried"])
    ev = events.join(carried, "sensor", "left").withColumns(c["carried_fill"])
    ev = ev.withColumns(c["suppressed"])

    alerts = ev.filter(c["emitted"]).select(*c["alert"])

    last = ev.groupBy("sensor").agg(c["last_kind"])
    untouched = blacklist.join(events.select("sensor").distinct(), "sensor", "left_anti")
    new_blacklist = last.filter(c["last_error"]).select("sensor").union(untouched)
    return alerts, new_blacklist


def _blacklist_cols() -> dict:
    w = Window.partitionBy("sensor").orderBy("seq")
    prev_kind = F.lag("kind").over(w)
    blacklisted_before = F.when(prev_kind.isNotNull(), prev_kind == "error").otherwise(
        F.col("carried")
    )
    return {
        "carried": [F.col("sensor"), F.lit(True).alias("carried")],
        "carried_fill": {"carried": F.coalesce("carried", F.lit(False))},
        "suppressed": {"suppressed": (F.col("kind") == "error") & blacklisted_before},
        "emitted": ~F.col("suppressed"),
        "alert": [
            F.col("seq"),
            F.col("sensor").alias("name"),
            F.col("kind"),
            F.when(F.col("kind") == "resolve", F.lit("resolve"))
            .otherwise(F.to_json("messages"))
            .alias("value"),
        ],
        "last_kind": F.max_by("kind", "seq").alias("last_kind"),
        "last_error": F.col("last_kind") == "error",
    }


def derive_alerts(
    stale_annotated: DataFrame,
    fresh_annotated: DataFrame,
    blacklist: DataFrame,
    order_col: str = "seq",
    stale_all_discrepant: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """events + state fold in one call -> (alerts, new_blacklist)."""
    ev = alert_events(
        stale_annotated,
        fresh_annotated,
        order_col,
        stale_all_discrepant=stale_all_discrepant,
    )
    return apply_blacklist(ev, blacklist)
