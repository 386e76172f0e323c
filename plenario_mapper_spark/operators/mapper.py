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
SparkContext and keyed by the builder's flags — and applies them with one
`withColumns`/`select` per let-binding level. Rebuilding the trees per call
costs thousands of py4j round trips (each `F.*` call is several), which a
micro-batch stream would pay on every trigger.
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, functions as F

from plenario_mapper_spark.functions import coercion as C

ENVELOPE = ("node_id", "datetime", "meta_id", "sensor", "network")


# Memoized builds kept per context, least recently used dropped first. The
# steady state needs a few per builder flag set plus one per registry feature
# and layout; retyped or added properties make new `feature_rows` keys, so a
# long-running stream would otherwise grow the memo without bound.
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


def annotate(
    obs: DataFrame,
    kmap_df: DataFrame,
    *,
    typed: bool = False,
    emit: bool = False,
    misfit: bool = False,
    alert: bool = False,
    carry_variant: bool = True,
) -> DataFrame:
    """Join the broadcast schema registry and derive the validation/split columns,
    optionally PLUS sink-ready renditions of each entry, all in ONE pass over
    map_entries(data).

    Adds:
      kmap            raw_key -> (feature, property, type, fp) for this sensor
                      (NULL when the sensor is unknown — ref app/mapper.js:78)
      _known          kmap IS NOT NULL (sensor present in the registry)
      _ann            per-entry annotation array: (key, value, vt, info, unknown,
                      err) — computed in ONE pass over map_entries(data).
                      With any rendition flag on, each entry additionally carries
                      the flattened registry info (feature/property/typ/fp) and:
                        typed     struct(s,i,d,b): the JS-coerced value in its
                                  metadata type family (feature_query_text,
                                  app/mapper.js:336-354)           [typed=True]
                        jpiece    '"property":<json literal>' — the emit
                                  fragment (format_obs, :365-403)   [emit=True]
                        mpiece    '"key":<json literal>' — the dead-letter
                                  fragment (:306-310)             [misfit=True]
                        orig/tof  String(value) / typeof value for coercion
                                  alert text (:443-451)            [alert=True]
      invalid_keys    data keys absent from the registry (invalid_keys, :411-419)
      error_keys      known keys whose value fails JS coercion (:192-243)
      bad_keys        invalid ∪ error — drives the record split (:255)
      features        distinct features touched by the clean half (:275-281)
      misfit_json     JSON.stringify of the bad half (only when misfit=True) —
                      byte-identical to to_json(misfit_data), rendered from
                      per-entry pieces so no variant map survives the pass
      misfit_data / clean_data   the variant-map halves (only when carry_variant)

    WHEN to turn the rendition flags on — measured tradeoff (guide §1.1/§4):
    the variant/HOF tree is interpreted (no codegen, no common-subexpression
    reuse), so tree size IS the runtime. Renditions make the single annotate
    pass BIGGER (an extra transform level plus one coercion per rendition
    family per entry) and the sink projections trivially cheap. That is a net
    LOSS for a one-shot single-sink query (measured +25..90% executor task time
    on the q_mapper_* oracle queries at sf0.1 — each rendition is consumed
    exactly once either way, so the extra level is pure overhead) and a net WIN
    when the annotated frame is CACHED and fanned out to several sinks
    (streaming process_batch): every sink then reads plain strings/numerics
    from the cache instead of re-interpreting variant coercions per sink, and
    with carry_variant=False the cache itself holds no VariantVal entries and
    no per-row registry copy. Defaults are all-off: the classic (r13) tree.

    Performance shape: HOF inputs are materialized arrays, so the nested
    transform acts as a let-binding — schema_of_variant and the registry lookup
    run once per entry (level 1), the single coercion validity check once per
    entry (level 2), and the err-gated renditions read `unknown`/`err` as plain
    fields (level 3, only built when a rendition flag is on) instead of
    re-running the coercion per gate. (The naive formulation — each derived
    column re-probing the variant map — re-evaluated the whole interpreted
    expression tree per column per key and was ~20x slower.)
    """
    flags = (typed, emit, misfit, alert, carry_variant)
    levels = _memo(("annotate", flags), lambda: _annotate_levels(*flags))
    df = obs.join(F.broadcast(kmap_df), "sensor", "left")
    for level in levels:
        df = df.withColumns(level)
    return df


def _annotate_levels(
    typed: bool, emit: bool, misfit: bool, alert: bool, carry_variant: bool
) -> list[dict[str, Column]]:
    """annotate's derived columns as let-binding levels: `_ann` first (every
    later column reads it), then the key lists, then the rest (`bad_keys`
    reads the key lists), in annotate's output column order."""
    fused = typed or emit or misfit or alert or not carry_variant

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
    mid = F.transform(
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

    def full_entry(b: Column) -> Column:
        v, vt, t = b["value"], b["vt"], b["info"]["type"]
        clean = ~(b["unknown"] | b["err"])
        fields = [b["key"].alias("key")]
        if carry_variant:
            fields += [v.alias("value"), vt.alias("vt"), b["info"].alias("info")]
        fields += [
            b["unknown"].alias("unknown"),
            b["err"].alias("err"),
            b["info"]["feature"].alias("feature"),
            b["info"]["property"].alias("property"),
            t.alias("typ"),
            b["info"]["fp"].alias("fp"),
        ]
        if typed:
            # one coercion in the entry's own type family; the other three
            # family fields stay NULL (their `when` guards fail), so this costs
            # ONE family evaluation per clean entry
            fields.append(
                F.when(
                    clean,
                    F.struct(
                        F.when(
                            C._is_in(t, C.STRING_TYPES), C.js_string_vt(v, vt)
                        ).alias("s"),
                        F.when(
                            C._is_in(t, C.INT_TYPES), C.coerce_int_vt(v, vt)[1]
                        ).alias("i"),
                        F.when(
                            C._is_in(t, C.FLOAT_TYPES), C.coerce_double_vt(v, vt)[1]
                        ).alias("d"),
                        F.when(
                            C._is_in(t, C.BOOL_TYPES), C.coerce_bool_vt(v, vt)[1]
                        ).alias("b"),
                    ),
                ).alias("typed")
            )
        if emit:
            fields.append(
                F.when(
                    clean,
                    F.concat(
                        C.json_quote(b["info"]["property"]),
                        F.lit(":"),
                        C.coerced_json_literal_vt(v, vt, t),
                    ),
                ).alias("jpiece")
            )
        if misfit:
            # '"key":<literal>' — to_json renders a variant JSON-null as the
            # text 'null', so the piece never goes NULL for a present entry
            fields.append(
                F.when(
                    b["unknown"] | b["err"],
                    F.concat(C.json_quote(b["key"]), F.lit(":"), F.to_json(v)),
                ).alias("mpiece")
            )
        if alert:
            fields.append(F.when(b["err"], C.js_string_vt(v, vt)).alias("orig"))
            fields.append(F.when(b["err"], C.js_typeof_vt(v, vt)).alias("tof"))
        return F.struct(*fields)

    def cheap_entry(e: Column) -> Column:
        """Entry shape for an UNKNOWN-SENSOR row (kmap NULL): by construction
        every key is unknown (app/mapper.js:78 — the whole record dead-letters),
        so skip schema_of_variant, the registry probe, the coercion check and
        every rendition. The row-level derived columns (misfit_json,
        dead-letter residue) render the WHOLE data map directly instead of
        reading the per-entry rendition fields, which stay NULL here."""
        null_s = F.lit(None).cast("string")
        fields = [e["key"].alias("key")]
        if carry_variant:
            fields += [
                e["value"].alias("value"),
                null_s.alias("vt"),
                F.lit(None)
                .cast("struct<feature:string,property:string,type:string,fp:string>")
                .alias("info"),
            ]
        fields += [
            F.lit(True).alias("unknown"),
            F.lit(False).alias("err"),
        ]
        if fused:
            fields += [
                null_s.alias("feature"),
                null_s.alias("property"),
                null_s.alias("typ"),
                null_s.alias("fp"),
            ]
        if typed:
            fields.append(
                F.lit(None)
                .cast("struct<s:string,i:bigint,d:double,b:boolean>")
                .alias("typed")
            )
        if emit:
            fields.append(null_s.alias("jpiece"))
        if misfit:
            fields.append(null_s.alias("mpiece"))
        if alert:
            fields.append(null_s.alias("orig"))
            fields.append(null_s.alias("tof"))
        return F.struct(*fields)

    full = F.transform(mid, full_entry) if fused else mid
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
                lambda x: (x["feature"] if fused else x["info"]["feature"]),
            )
        ),
    }
    if misfit:
        # unknown-sensor rows (cheap _ann entries carry no mpiece): the misfit
        # half IS the whole data map, and to_json(map<string,variant>) is
        # byte-identical to the piece-concat render (pinned by
        # test_mapper_fused) — one variant render per row, no per-entry work
        derived["misfit_json"] = F.when(kmap.isNull(), F.to_json(data)).otherwise(
            F.when(
                a.isNotNull(),
                F.concat(
                    F.lit("{"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.filter(a, lambda x: x["unknown"] | x["err"]),
                            lambda x: x["mpiece"],
                        ),
                    ),
                    F.lit("}"),
                ),
            )
        )
    if carry_variant:
        derived["misfit_data"] = F.map_from_entries(
            F.transform(
                F.filter(a, lambda x: x["unknown"] | x["err"]),
                lambda x: F.struct(x["key"], x["value"]),
            )
        )
        derived["clean_data"] = F.map_from_entries(
            F.transform(
                F.filter(a, lambda x: ~(x["unknown"] | x["err"])),
                lambda x: F.struct(x["key"], x["value"]),
            )
        )
    return [{"_ann": ann, "_known": kmap.isNotNull()}, keys, derived]


def sink_projection(annotated: DataFrame, extra: tuple[str, ...] = ("seq",)) -> DataFrame:
    """The multi-sink CACHE layout: pre-filtered, variant-free, per-sink arrays.

    Takes a frame from annotate(typed/emit/misfit/alert=True) and projects it to
    exactly what the four sink families read, as SEPARATE top-level columns so
    the in-memory cache's column pruning actually skips what a sink does not
    touch (cached scans prune whole columns, never fields inside an array of
    structs — one fat `_ann` column makes every sink deserialize every field of
    every entry):

      _clean   array<(fp, feature, typed, jpiece)> — clean entries only, feeding
               the per-feature typed projections and the emit fragments
      _errs    array<(property, typ, orig, tof)>   — coercion-error entries only,
               feeding the per-key alert messages (order = entry order, which is
               what the reference's errors-object iteration yields)
      misfit_json, invalid_keys, bad_keys, features, _known — as in annotate

    The per-entry filters run ONCE here instead of once per sink on every
    cache read."""
    cols = _memo(("sink_projection", tuple(extra)), lambda: _sink_projection_cols(extra))
    return annotated.select(*cols)


def _sink_projection_cols(extra: tuple[str, ...]) -> list[Column]:
    a = F.col("_ann")
    clean = F.transform(
        F.filter(a, lambda x: ~(x["unknown"] | x["err"])),
        lambda x: F.struct(
            x["fp"].alias("fp"),
            x["feature"].alias("feature"),
            x["typed"].alias("typed"),
            x["jpiece"].alias("jpiece"),
        ),
    )
    errs = F.transform(
        F.filter(a, lambda x: x["err"]),
        lambda x: F.struct(
            x["property"].alias("property"),
            x["typ"].alias("typ"),
            x["orig"].alias("orig"),
            x["tof"].alias("tof"),
        ),
    )
    names = (*ENVELOPE, *extra, "_known", "invalid_keys", "bad_keys", "features", "misfit_json")
    return [F.col(c) for c in names] + [clean.alias("_clean"), errs.alias("_errs")]


def dead_letter(annotated: DataFrame) -> DataFrame:
    """Rows for <network>__unknown_feature: the misfit residue as a JSON object
    string — JSON.stringify of the bad half (app/mapper.js:306-310). Emitted once
    per record that has any bad key (insert_emit split, :251-268). Uses the
    pre-rendered misfit_json when annotate produced it (byte-identical to
    to_json(misfit_data) — pinned by test_mapper_fused)."""
    pre_rendered = "misfit_json" in annotated.columns
    cond, cols = _memo(("dead_letter", pre_rendered), lambda: _dead_letter_cols(pre_rendered))
    return annotated.filter(cond).select(*cols)


def _dead_letter_cols(pre_rendered: bool) -> tuple[Column, list[Column]]:
    residue = (
        F.col("misfit_json")
        if pre_rendered
        # unknown sensor -> the misfit half IS the whole (lowercased) data map;
        # rendering it directly skips the per-entry rebuild for the class of
        # rows that is 100% of this sink's unknown-sensor traffic
        else F.when(~F.col("_known"), F.to_json("data")).otherwise(
            F.to_json("misfit_data")
        )
    )
    cols = [F.col(c) for c in ("network", "node_id", "datetime", "meta_id", "sensor")]
    return F.size("bad_keys") > 0, cols + [residue.alias("data")]


def clean_rows(annotated: DataFrame) -> DataFrame:
    """Records (post-split) that carry at least one clean key — the recursion input
    of insert_emit (app/mapper.js:269-271). `features` is non-empty exactly when
    clean_data is (every clean entry contributes a feature); variant-free frames
    carry only the former."""
    gate = _clean_gate_column(annotated)
    return annotated.filter(_memo(("clean_rows", gate), lambda: F.size(gate) > 0))


def _clean_gate_column(annotated: DataFrame) -> str:
    return "clean_data" if "clean_data" in annotated.columns else "features"


def feature_rows(
    annotated: DataFrame, feature: str, properties: list[tuple[str, str]]
) -> DataFrame:
    """Typed projection for one feature table (<network>__<feature>).

    Only properties observed in the record get values; the rest are NULL —
    NULL-filling proven by tests/travis_tests/integration_tests.js:354-370.
    `properties` is [(name, metadata_type)] from the registry; the type is
    static here. On a sink_projection frame (streaming's cached form) each
    column is a plain map probe into the pre-coerced `typed` renditions;
    otherwise the coercion compiles against the carried variant value, as the
    reference's feature_query_text does (app/mapper.js:336-354).
    """
    pre_typed = "_clean" in annotated.columns
    gate = _clean_gate_column(annotated)
    key = ("feature_rows", feature, tuple(properties), pre_typed, gate)
    cond, bound, cols = _memo(
        key, lambda: _feature_rows_cols(feature, properties, pre_typed, gate)
    )
    return annotated.filter(cond).select(*bound).select(*cols)


def _feature_rows_cols(
    feature: str, properties: list[tuple[str, str]], pre_typed: bool, gate: str
) -> tuple[Column, list[Column], list[Column]]:
    """(row filter, the envelope plus the `_fp` let-binding, output columns)."""
    if pre_typed:
        fp_map = F.map_from_entries(
            F.transform(
                F.col("_clean"),
                lambda x: F.struct(x["fp"].alias("fp"), x["typed"].alias("tv")),
            )
        )
    else:
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
        if pre_typed:
            cols.append(typed_field(e, typ).alias(prop))
        else:
            cols.append(
                F.when(
                    e.isNotNull(), C.coerce_typed_vt(e["v"], e["vt"], typ)
                ).alias(prop)
            )
    cond = (F.size(gate) > 0) & F.array_contains("features", feature)
    return cond, [F.col(c) for c in ENVELOPE] + [fp_map.alias("_fp")], cols


def typed_field(tv: Column, sql_type: str) -> Column:
    """Read the pre-coerced rendition matching a STATIC metadata type string from
    a `typed` struct (see annotate): the registry types both the kmap entry and
    the sink column from the same lower-cased metadata row, so the per-row
    dynamic dispatch that filled `typed` and this static one always agree."""
    t = sql_type.strip().lower()
    if t in C.STRING_TYPES:
        return tv["s"]
    if t in C.INT_TYPES:
        return tv["i"].cast("int")
    if t in C.FLOAT_TYPES:
        return tv["d"]
    if t in C.BOOL_TYPES:
        return tv["b"]
    return F.lit(None).cast("string")


def emit_messages(annotated: DataFrame) -> DataFrame:
    """Per-feature socket messages (format_obs, app/mapper.js:365-403; emit
    :292-296): one row per (record, feature) with results = {property: coerced}
    as a JSON object string. Only the clean half emits; a record whose data was
    entirely bad emits nothing (insert_emit recursion guard, :269-271)."""
    pre_rendered = "_clean" in annotated.columns
    explode_cols, out_cols = _memo(
        ("emit_messages", pre_rendered), lambda: _emit_cols(pre_rendered)
    )
    return clean_rows(annotated).select(*explode_cols).select(*out_cols)


def _emit_cols(pre_rendered: bool) -> tuple[list[Column], list[Column]]:
    explode_cols = [F.col(c) for c in ENVELOPE] + [
        F.col("_clean" if pre_rendered else "_ann"),
        F.explode("features").alias("feature"),
    ]
    # clean entries of THIS feature, rendered "property":<json literal>. On a
    # sink_projection frame (streaming's cached form) this is a plain string
    # filter+collect over the pre-rendered `jpiece` fragments; otherwise one
    # filter+transform over the already-annotated variant entries.
    if pre_rendered:
        pieces = F.transform(
            F.filter(F.col("_clean"), lambda x: x["feature"] == F.col("feature")),
            lambda x: x["jpiece"],
        )
    else:
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


def run_mapper(
    obs: DataFrame, kmap_df: DataFrame, registry: list[dict]
) -> MapperResult:
    """Full batch pass: normalize + annotate once, then derive every output.

    `registry` comes from metadata.feature_registry; each entry yields one typed
    per-feature DataFrame keyed "<feature>" (callers prepend the network when
    materializing per-(network, feature) tables, or write the lot as one lake table
    partitioned by (network, feature))."""
    ann = annotate(normalize(obs), kmap_df)
    return MapperResult(
        annotated=ann,
        dead_letter=dead_letter(ann),
        emits=emit_messages(ann),
        features={
            entry["feature"]: feature_rows(ann, entry["feature"], entry["properties"])
            for entry in registry
        },
    )
