"""The mapper pipeline: normalize → validate → coerce → split → route.

Reproduces app/mapper.js parse_data/insert_emit/format_obs semantics as ONE
shuffle-free DataFrame pipeline:

- normalization (lower-case node_id/sensor/data keys, app/mapper.js:60-68);
- validation (invalid_keys, app/mapper.js:411-419) and coercion-error detection
  (coerce_types, :192-243) via JVM map functions against a broadcast schema
  registry — the reference's in-memory `map`/`type_map` hash lookups;
- record split into a clean half and a misfit half (insert_emit, :251-271);
- routing: per-(network, feature) typed projections (feature_query_text, :319-358),
  a dead-letter projection (misfit_query_text, :306-310), and per-feature emit
  messages (format_obs, :365-403).

Scale notes: the only join is a broadcast against a KB-sized schema registry, so the
whole pipeline is narrow (no shuffle), pipelined inside whole-stage codegen, and
scales linearly with input splits. Routing to per-feature tables is filter+project
per registry entry (registry is small by construction); the lake-mode sink is a
single write partitioned by (network, feature).

Plan-build cost: every Column tree below is name-based and independent of the
batch, so each builder takes its trees from `_memo` — built once per live
SparkContext and keyed by the builder and its arguments — and applies them
with one `withColumns`/`select` per let-binding level. Rebuilding the trees
per call costs thousands of py4j round trips (each `F.*` call is several),
which a micro-batch stream would pay on every trigger.
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, functions as F

from plenario_mapper_spark.functions import coercion as C

ENVELOPE = ("node_id", "datetime", "meta_id", "sensor", "network")


# Memoized builds kept per context, least recently used dropped first. The
# steady state needs one per builder plus one per registry feature; retyped or
# added properties make new `feature_rows` keys, so a long-running stream
# would otherwise grow the memo without bound.
_MEMO_SIZE = 1024


def _memo(key: tuple, build):
    """`build()` once per live SparkContext and `key` (an LRU of `_MEMO_SIZE`
    entries). Columns wrap JVM objects, so the memo lives on the context
    object itself: a new context (a new JVM session) starts with an empty
    memo and never sees a stale `_jc`."""
    sc = SparkContext._active_spark_context
    memo = sc.__dict__.setdefault("_plenario_mapper_columns", OrderedDict())
    if key in memo:
        memo.move_to_end(key)
        return memo[key]
    memo[key] = value = build()
    if len(memo) > _MEMO_SIZE:
        memo.popitem(last=False)
    return value


def normalize(obs: DataFrame, data_col: str = "data") -> DataFrame:
    """Lower-case node_id, sensor, and every data key (values untouched) —
    app/mapper.js:60-68. `data` arrives as raw JSON object text and leaves as
    MAP<STRING, VARIANT> (JSON runtime types preserved for coercion).

    Duplicate keys after lowercasing follow the reference's in-place rewrite
    (app/mapper.js:63-68): it walks Object.keys(data) and reassigns ONLY keys
    that are not already lowercase (`if (key != key.toLowerCase())`), so a
    case-variant key ALWAYS overwrites a plain-lowercase key regardless of
    document position ({"Temp":1,"temp":2} -> temp=1 and {"temp":2,"Temp":1}
    -> temp=1), and among several case-variants the LAST in document order
    wins ({"TEMP":3,"Temp":1} -> temp=1). A variant map alone can't reproduce
    that — variant objects store fields sorted by name — so exact parity
    rebuilds the entry list from `json_object_keys` (document order) as
    plain-lowercase keys first, then non-lowercase keys in document order,
    with values probed from the variant map, and map_from_entries +
    mapKeyDedupPolicy=LAST_WIN (set by session.get_spark) applying the JS
    overwrite rule.

    Known divergence: JSON with duplicate SAME-case keys (which JSON.parse
    silently resolves last-wins before the reference's loop runs) is rejected
    by Spark's variant parser, so `data` becomes NULL here and the record
    dead-letters instead of proceeding with the deduped object.

    That rebuild costs a second JSON walk + one map probe per key — measured
    ~2.5x on the whole hot path — so it runs ONLY for rows that actually carry
    a case-collision. `when` evaluates branches lazily per row, and a collision
    is detectable for free: transform_keys under LAST_WIN dedupes colliding
    keys, so collision <=> size(cheap) != size(parsed). Collision-free rows
    (the steady state) pay exactly the old single transform_keys pass.

    The parse and the cheap map are staged through intermediate projections
    (variant expressions are interpreted, with no common-subexpression reuse
    inside one projection — inlining `parsed` at its three use sites re-parses
    the JSON three times per row; CollapseProject keeps non-cheap multi-use
    aliases in their own projection, making this a per-row let-binding, the
    same trick annotate() uses for its HOF pass).
    """
    parsed_c, cheap_c = f"_{data_col}_parsed", f"_{data_col}_cheap"
    levels = _memo(("normalize", data_col), lambda: _normalize_levels(data_col))
    for level in levels:
        obs = obs.withColumns(level)
    return obs.drop(parsed_c, cheap_c)


def _normalize_levels(data_col: str) -> list[dict[str, Column]]:
    parsed_c, cheap_c = f"_{data_col}_parsed", f"_{data_col}_cheap"
    p, c = F.col(parsed_c), F.col(cheap_c)
    keys = F.json_object_keys(F.col(data_col))
    exact = F.map_from_entries(
        F.transform(
            F.concat(
                F.filter(keys, lambda k: k == F.lower(k)),
                F.filter(keys, lambda k: k != F.lower(k)),
            ),
            lambda k: F.struct(
                F.lower(k).alias("key"), F.element_at(p, k).alias("value")
            ),
        )
    )
    return [
        {parsed_c: F.try_parse_json(F.col(data_col)).cast("map<string, variant>")},
        {cheap_c: F.transform_keys(p, lambda k, _: F.lower(k))},
        {
            "node_id": F.lower("node_id"),
            "sensor": F.lower("sensor"),
            data_col: F.when(p.isNull(), F.lit(None).cast("map<string,variant>"))
            .when(F.size(c) == F.size(p), c)
            .otherwise(exact),
        },
    ]


def annotate(obs: DataFrame, kmap_df: DataFrame) -> DataFrame:
    """Join the broadcast schema registry and derive the validation/split columns
    in ONE pass over map_entries(data).

    Adds:
      kmap            raw_key -> (feature, property, type, fp) for this sensor
                      (NULL when the sensor is unknown — ref app/mapper.js:78)
      _known          kmap IS NOT NULL (sensor present in the registry)
      _ann            per-entry annotation array: (key, value, vt, info, unknown,
                      err) — computed in ONE pass over map_entries(data)
      invalid_keys    data keys absent from the registry (invalid_keys, :411-419)
      error_keys      known keys whose value fails JS coercion (:192-243)
      bad_keys        invalid ∪ error — drives the record split (:255)
      features        distinct features touched by the clean half (:275-281)
      misfit_data / clean_data   the variant-map halves (insert_emit, :251-271)

    Every sink derives its rendition from the carried variant values: one-shot
    queries read this frame once, and the stream persists it for the batch and
    fans it out to its sinks. One layout is a measured choice. A second,
    variant-free layout that pre-computed every sink rendition in this pass
    cost one-shot queries 25–90% more executor time, and on the stream it only
    moved executor time from the annotate job to the sinks: over 10
    alternating pairs of `stream_backfill` runs, batch time with this layout
    was within 4% of it (median, inside the run-to-run spread) and CPU time
    per batch equal. Every trigger re-plans and re-generates code for each
    sink, and that fixed per-batch cost, not the per-sink variant work,
    dominates a batch.

    Performance shape: HOF inputs are materialized arrays, so the nested
    transform acts as a let-binding — schema_of_variant and the registry lookup
    run once per entry (level 1), the single coercion validity check once per
    entry (level 2). (The naive formulation — each derived column re-probing
    the variant map — re-evaluated the whole interpreted expression tree per
    column per key and was ~20x slower.)
    """
    levels = _memo(("annotate",), _annotate_levels)
    df = obs.join(F.broadcast(kmap_df), "sensor", "left")
    for level in levels:
        df = df.withColumns(level)
    return df


def _annotate_levels() -> list[dict[str, Column]]:
    """annotate's derived columns as let-binding levels: `_ann` first (every
    later column reads it), then the key lists, then the rest (`bad_keys`
    reads the key lists), in annotate's output column order."""
    kmap = F.col("kmap")
    data = F.col("data")

    raw = F.transform(
        F.map_entries(data),
        lambda e: F.struct(
            e["key"].alias("key"),
            e["value"].alias("value"),
            C.vtype(e["value"]).alias("vt"),
            F.element_at(kmap, e["key"]).alias("info"),
        ),
    )
    full = F.transform(
        raw,
        lambda a: F.struct(
            a["key"].alias("key"),
            a["value"].alias("value"),
            a["vt"].alias("vt"),
            a["info"].alias("info"),
            (kmap.isNull() | a["info"].isNull()).alias("unknown"),
            F.when(kmap.isNull() | a["info"].isNull(), F.lit(False))
            .otherwise(~C.coerce_ok_vt(a["value"], a["vt"], a["info"]["type"]))
            .alias("err"),
        ),
    )

    def cheap_entry(e: Column) -> Column:
        """Entry shape for an UNKNOWN-SENSOR row (kmap NULL): by construction
        every key is unknown (app/mapper.js:78 — the whole record dead-letters),
        so skip schema_of_variant, the registry probe and the coercion check."""
        return F.struct(
            e["key"].alias("key"),
            e["value"].alias("value"),
            F.lit(None).cast("string").alias("vt"),
            F.lit(None)
            .cast("struct<feature:string,property:string,type:string,fp:string>")
            .alias("info"),
            F.lit(True).alias("unknown"),
            F.lit(False).alias("err"),
        )

    # Row-level short-circuit (the record split's dead-letter class): when the
    # SENSOR is unknown, the per-entry pipeline (schema_of_variant + registry
    # probe + coercion check per key) provably yields "every key unknown" — a
    # struct copy per entry replaces it. At bench this is ~80% of rows; at
    # production scale it is exactly the dead-letter fraction of the stream.
    ann = F.when(kmap.isNull(), F.transform(F.map_entries(data), cheap_entry)).otherwise(
        full
    )
    a = F.col("_ann")
    keys = {
        "invalid_keys": F.transform(F.filter(a, lambda x: x["unknown"]), lambda x: x["key"]),
        "error_keys": F.transform(F.filter(a, lambda x: x["err"]), lambda x: x["key"]),
    }
    derived = {
        "bad_keys": F.concat("invalid_keys", "error_keys"),
        "features": F.array_distinct(
            F.transform(
                F.filter(a, lambda x: ~(x["unknown"] | x["err"])),
                lambda x: x["info"]["feature"],
            )
        ),
        "misfit_data": F.map_from_entries(
            F.transform(
                F.filter(a, lambda x: x["unknown"] | x["err"]),
                lambda x: F.struct(x["key"], x["value"]),
            )
        ),
        "clean_data": F.map_from_entries(
            F.transform(
                F.filter(a, lambda x: ~(x["unknown"] | x["err"])),
                lambda x: F.struct(x["key"], x["value"]),
            )
        ),
    }
    return [{"_ann": ann, "_known": kmap.isNotNull()}, keys, derived]


def dead_letter(annotated: DataFrame) -> DataFrame:
    """Rows for <network>__unknown_feature: the misfit residue as a JSON object
    string — JSON.stringify of the bad half (app/mapper.js:306-310). Emitted once
    per record that has any bad key (insert_emit split, :251-268)."""
    cond, cols = _memo(("dead_letter",), _dead_letter_cols)
    return annotated.filter(cond).select(*cols)


def _dead_letter_cols() -> tuple[Column, list[Column]]:
    # unknown sensor -> the misfit half IS the whole (lowercased) data map;
    # rendering it directly skips the per-entry rebuild for the class of rows
    # that is 100% of this sink's unknown-sensor traffic (byte-identical,
    # pinned by test_mapper)
    residue = F.when(~F.col("_known"), F.to_json("data")).otherwise(
        F.to_json("misfit_data")
    )
    cols = [F.col(c) for c in ("network", "node_id", "datetime", "meta_id", "sensor")]
    return F.size("bad_keys") > 0, cols + [residue.alias("data")]


def clean_rows(annotated: DataFrame) -> DataFrame:
    """Records (post-split) that carry at least one clean key — the recursion input
    of insert_emit (app/mapper.js:269-271)."""
    return annotated.filter(_memo(("clean_rows",), lambda: F.size("clean_data") > 0))


def feature_rows(
    annotated: DataFrame, feature: str, properties: list[tuple[str, str]]
) -> DataFrame:
    """Typed projection for one feature table (<network>__<feature>).

    Only properties observed in the record get values; the rest are NULL —
    NULL-filling proven by tests/travis_tests/integration_tests.js:354-370.
    `properties` is [(name, metadata_type)] from the registry; the type is
    static here, so each column's coercion compiles against the carried variant
    value, as the reference's feature_query_text does (app/mapper.js:336-354).
    """
    key = ("feature_rows", feature, tuple(properties))
    cond, bound, cols = _memo(key, lambda: _feature_rows_cols(feature, properties))
    return annotated.filter(cond).select(*bound).select(*cols)


def _feature_rows_cols(
    feature: str, properties: list[tuple[str, str]]
) -> tuple[Column, list[Column], list[Column]]:
    """(row filter, the envelope plus the `_fp` let-binding, output columns)."""
    fp_map = F.map_from_entries(
        F.transform(
            F.filter(F.col("_ann"), lambda x: ~(x["unknown"] | x["err"])),
            lambda x: F.struct(
                x["info"]["fp"].alias("fp"),
                F.struct(x["value"].alias("v"), x["vt"].alias("vt")).alias("pv"),
            ),
        )
    )
    cols = [F.col(c) for c in ENVELOPE]
    for prop, typ in properties:
        e = F.element_at("_fp", F.lit(f"{feature}.{prop}"))
        cols.append(
            F.when(e.isNotNull(), C.coerce_typed_vt(e["v"], e["vt"], typ)).alias(prop)
        )
    cond = (F.size("clean_data") > 0) & F.array_contains("features", feature)
    return cond, [F.col(c) for c in ENVELOPE] + [fp_map.alias("_fp")], cols


def emit_messages(annotated: DataFrame) -> DataFrame:
    """Per-feature socket messages (format_obs, app/mapper.js:365-403; emit
    :292-296): one row per (record, feature) with results = {property: coerced}
    as a JSON object string. Only the clean half emits; a record whose data was
    entirely bad emits nothing (insert_emit recursion guard, :269-271)."""
    explode_cols, out_cols = _memo(("emit_messages",), _emit_cols)
    return clean_rows(annotated).select(*explode_cols).select(*out_cols)


def _emit_cols() -> tuple[list[Column], list[Column]]:
    explode_cols = [F.col(c) for c in ENVELOPE] + [
        F.col("_ann"),
        F.explode("features").alias("feature"),
    ]
    # clean entries of THIS feature, rendered "property":<json literal>
    pieces = F.transform(
        F.filter(
            F.col("_ann"),
            lambda x: ~(x["unknown"] | x["err"])
            & (x["info"]["feature"] == F.col("feature")),
        ),
        lambda x: F.concat(
            C.json_quote(x["info"]["property"]),
            F.lit(":"),
            C.coerced_json_literal_vt(x["value"], x["vt"], x["info"]["type"]),
        ),
    )
    # results as a JSON object keyed by property name
    results_json = F.concat(F.lit("{"), F.concat_ws(",", pieces), F.lit("}"))
    out_cols = [
        F.col("node_id").alias("node"),
        F.col("datetime"),
        F.col("sensor"),
        F.col("network"),
        F.col("feature"),
        results_json.alias("results"),
    ]
    return explode_cols, out_cols


@dataclass
class MapperResult:
    """All outputs of one mapper pass over a batch of observations."""

    annotated: DataFrame
    dead_letter: DataFrame
    emits: DataFrame
    features: dict[str, DataFrame] = field(default_factory=dict)


def route(annotated: DataFrame, registry: list[dict]) -> MapperResult:
    """Every output of one annotated batch: the dead-letter rows, the emit
    messages and one typed frame per registry feature, keyed "<feature>"
    (callers prepend the network when materializing per-(network, feature)
    tables, or write the lot as one lake table partitioned by (network,
    feature)). `registry` comes from metadata.feature_registry."""
    return MapperResult(
        annotated=annotated,
        dead_letter=dead_letter(annotated),
        emits=emit_messages(annotated),
        features={
            entry["feature"]: feature_rows(annotated, entry["feature"], entry["properties"])
            for entry in registry
        },
    )


def run_mapper(
    obs: DataFrame, kmap_df: DataFrame, registry: list[dict]
) -> MapperResult:
    """Full batch pass: normalize + annotate once, then route every output."""
    return route(annotate(normalize(obs), kmap_df), registry)
