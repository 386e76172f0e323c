"""Golden end-to-end tests of the mapper pipeline on the 8 canonical observations
(integration_tests.js:110-207; expected sink/emit contents :281-322, 340-425)."""

import json

import pytest
from pyspark.sql import functions as F

from plenario_mapper_spark.operators import mapper as M
from tests.conftest import FEATURE_META_ROWS, SENSOR_META_ROWS


@pytest.fixture(scope="module")
def result(obs_df, kmap_df, registry):
    return M.run_mapper(obs_df, kmap_df, registry)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_normalization(obs_df, kmap_df):
    ann = M.annotate(M.normalize(obs_df), kmap_df)
    r = {row["seq"]: row for row in ann.collect()}
    assert r[1]["node_id"] == "001" and r[1]["sensor"] == "htu21d"
    assert sorted(r[1]["data"].keys()) == ["humidity", "temp"]


def test_normalize_duplicate_key_js_last_wins(spark):
    """Case-colliding keys follow app/mapper.js:63-68: the loop reassigns only
    keys that are NOT already lowercase, so a case-variant always overwrites a
    plain-lowercase key regardless of document position, and among several
    case-variants the last in document order wins. (A plain sorted variant map
    would get `{"temp":2,"Temp":1}` wrong — sorted order puts "Temp" first, so
    LAST_WIN over sorted entries keeps 2; JS keeps 1.)"""
    df = spark.createDataFrame(
        [
            ("a", '{"temp": 2, "Temp": 1}'),   # variant overwrites lowercase -> 1
            ("b", '{"Temp": 1, "temp": 2}'),   # variant still overwrites     -> 1
            ("c", '{"TEMP": 3}'),
            ("d", '{"TEMP": 3, "Temp": 1}'),   # last variant in doc order    -> 1
            ("e", '{"Temp": 1, "TEMP": 3}'),   # last variant in doc order    -> 3
            ("f", '{"TEMP": 3, "temp": 2, "Temp": 1}'),  # variants beat plain -> 1
        ],
        "node_id string, data string",
    ).withColumn("sensor", F.lit("htu21d"))
    out = {r["node_id"]: r["data"] for r in M.normalize(df).collect()}
    want = {"a": 1, "b": 1, "c": 3, "d": 1, "e": 3, "f": 1}
    for node, expect in want.items():
        assert json.loads(str(out[node]["temp"])) == expect, node


def test_normalize_unparseable_data_is_null(spark):
    """Same-case duplicate keys are rejected by the variant parser (JS
    JSON.parse would dedupe last-wins — documented divergence): data must come
    back NULL, not a map of lowercased keys with all-NULL values."""
    df = spark.createDataFrame(
        [("a", '{"temp": 1, "temp": 2}'), ("b", "not json")],
        "node_id string, data string",
    ).withColumn("sensor", F.lit("htu21d"))
    out = {r["node_id"]: r["data"] for r in M.normalize(df).collect()}
    assert out["a"] is None and out["b"] is None


def test_validation_split(result):
    r = {row["seq"]: row for row in result.annotated.collect()}
    assert r[1]["invalid_keys"] == [] and r[1]["error_keys"] == []
    assert sorted(r[3]["invalid_keys"]) == ["x1", "y1"]
    assert r[4]["error_keys"] == ["standing_water"]  # 10 is not coercible to bool
    assert sorted(r[5]["bad_keys"]) == ["humdrum", "temp"]
    assert sorted(r[6]["invalid_keys"]) == ["intensity"]  # unknown sensor: all keys
    assert r[7]["bad_keys"] == []
    assert sorted(r[1]["features"]) == ["relative_humidity", "temperature"]
    assert r[2]["features"] == ["magnetic_field"]


def test_feature_tables(result):
    net = "network"
    temp = _rows(result.features["temperature"], net, "node_id", "temperature")
    assert temp == [
        ("array_of_things_chicago", "001", pytest.approx(37.91)),
        ("internet_of_stuff_seattle", "008", pytest.approx(40.01)),
    ]
    hum = _rows(result.features["relative_humidity"], "node_id", "humidity")
    assert hum == [("001", pytest.approx(27.48))]

    mag = _rows(result.features["magnetic_field"], "node_id", "x", "y", "z")
    assert mag == [
        ("002", None, pytest.approx(32.11), pytest.approx(90.92)),
        ("003", None, None, pytest.approx(90.92)),
    ]

    cv = _rows(
        result.features["computer_vision"],
        "node_id", "standing_water", "cloud_type", "num_pedestrians", "traffic_density",
    )
    assert cv == [
        ("004", None, "cumulonimbus", 9, pytest.approx(0.38)),
        ("007", True, "cumulonimbus", 11, pytest.approx(0.22)),
    ]


def test_dead_letter(result):
    dl = {
        r["node_id"]: (r["network"], r["sensor"], json.loads(r["data"]))
        for r in result.dead_letter.collect()
    }
    assert set(dl) == {"003", "004", "005", "006"}
    assert dl["003"][2] == {"x1": 56.77, "y1": 32.11}
    assert dl["004"][2] == {"standing_water": 10}
    assert dl["005"][2] == {"temp": "high", "humdrum": 27.48}
    assert dl["006"][2] == {"intensity": 90}
    assert dl["006"][1] == "wubdb89"


def test_unknown_sensor_residue_matches_misfit_render(result):
    """dead_letter and q_mapper_split_events render an unknown sensor's residue
    as to_json(data) instead of rebuilding misfit_data: for every annotated
    row the shortcut must equal to_json(misfit_data), NULLs included."""
    ann = result.annotated
    shortcut = F.when(~F.col("_known"), F.to_json("data")).otherwise(
        F.to_json("misfit_data")
    )
    assert ann.filter(~F.col("_known")).count() > 0
    assert ann.filter(~shortcut.eqNullSafe(F.to_json("misfit_data"))).count() == 0


def test_emit_messages(result):
    emits = result.emits.collect()
    assert len(emits) == 7  # integration_tests.js:335 (data_count == 7)
    by_key = {(r["node"], r["feature"]): json.loads(r["results"]) for r in emits}
    assert by_key[("001", "temperature")] == {"temperature": 37.91}
    assert by_key[("001", "relative_humidity")] == {"humidity": 27.48}
    assert by_key[("002", "magnetic_field")] == {"y": 32.11, "z": 90.92}
    assert by_key[("003", "magnetic_field")] == {"z": 90.92}
    assert by_key[("004", "computer_vision")] == {
        "cloud_type": "cumulonimbus", "num_pedestrians": 9, "traffic_density": 0.38
    }
    assert by_key[("007", "computer_vision")] == {
        "standing_water": True, "cloud_type": "cumulonimbus",
        "num_pedestrians": 11, "traffic_density": 0.22,
    }
    assert by_key[("008", "temperature")] == {"temperature": 40.01}
    nets = {r["node"]: r["network"] for r in emits}
    assert nets["008"] == "internet_of_stuff_seattle"
    assert nets["001"] == "array_of_things_chicago"


def test_pipeline_is_shuffle_free(result):
    """The hot path must stay narrow: broadcast join only, no exchange. At 1000
    executors a shuffle here would dominate; the reference's per-record hash lookup
    maps to a broadcast hash join precisely so the pipeline scales linearly."""
    from tests.conftest import final_plan

    plan = final_plan(result.annotated)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


_EDGE_SENSORS = [
    ("HTU21D", {"Temp": "Temperature.Temperature", "raw": "temperature"}),
    ("multi", {"a": "magnetic_field.x.y", "b": "magnetic_field.w"}),
]


@pytest.mark.parametrize(
    "sensor_rows, feature_rows",
    [
        (SENSOR_META_ROWS, FEATURE_META_ROWS),
        # uppercase name/key/fp, dotless fp, multi-dot fp, a property with no
        # type row (magnetic_field.w)
        (SENSOR_META_ROWS + _EDGE_SENSORS, FEATURE_META_ROWS),
        ([], []),
    ],
    ids=["fixtures", "edge_cases", "empty"],
)
def test_python_flatten_matches_spark_flatten(spark, sensor_rows, feature_rows):
    """The driver-side flatten (metadata.mapping_rows / kmap_entries /
    feature_list, used for pinned dimensions) equals the Spark formulation
    (lower_*_metadata + the left join + sensor_kmap's collect) row for row."""
    from plenario_mapper_spark import metadata
    from plenario_mapper_spark.functions.local_rel import local_rows
    from plenario_mapper_spark.schemas import (
        FEATURE_METADATA_SCHEMA,
        SENSOR_METADATA_SCHEMA,
    )

    sm = spark.createDataFrame(sensor_rows, SENSOR_METADATA_SCHEMA)
    fm = spark.createDataFrame(feature_rows, FEATURE_METADATA_SCHEMA)
    spark_mapping = metadata._join_mapping(sm, fm)
    assert sorted(metadata.mapping_rows(sm.collect(), fm.collect()), key=repr) == sorted(
        (tuple(r) for r in spark_mapping.collect()), key=repr
    )

    def kmap_rows(df):
        return [(r["sensor"], {k: tuple(v) for k, v in r["kmap"].items()}) for r in df.collect()]

    pinned = (
        local_rows(spark, sensor_rows, SENSOR_METADATA_SCHEMA),
        local_rows(spark, feature_rows, FEATURE_METADATA_SCHEMA),
    )
    want = kmap_rows(metadata.sensor_kmap(spark_mapping))
    assert kmap_rows(metadata.sensor_kmap(metadata.build_mapping(*pinned))) == want
    assert sorted(metadata.pinned_kmap(*pinned).items()) == want

    spark_features = [
        {"feature": r["name"], "properties": [tuple(p) for p in r["observed_properties"]]}
        for r in metadata.lower_feature_metadata(fm).collect()
    ]
    assert metadata.feature_registry(pinned[1]) == spark_features


def test_registry_change_kinds_mark_changed_sensors(spark):
    """Each change kind of the benchmark's registry generator (drop a key,
    retype a property, add a sensor) marks exactly the sensors whose key map
    it edits: drop -> the victim; retype -> every sensor mapping the retyped
    property; add -> the new sensor."""
    from perfbench import streamgen

    from plenario_mapper_spark import metadata
    from plenario_mapper_spark.functions.local_rel import local_rows
    from plenario_mapper_spark.schemas import (
        FEATURE_METADATA_SCHEMA,
        SENSOR_METADATA_SCHEMA,
    )

    def entries(k):
        reg = streamgen.registry_version(k)
        return metadata.pinned_kmap(
            local_rows(spark, reg.sensor_rows(), SENSOR_METADATA_SCHEMA),
            local_rows(spark, reg.feature_rows(), FEATURE_METADATA_SCHEMA),
        )

    base = streamgen.base_registry()
    v0 = entries(0)
    for k in (1, 2, 3):
        reg = streamgen.registry_version(k)
        want = {s for s in base.sensors.keys() | reg.sensors.keys()
                if base.sensors.get(s) != reg.sensors.get(s)}
        want |= {
            s for s, keys in reg.sensors.items() for fp in keys.values()
            for f, props in reg.types.items() for p, t in props.items()
            if fp == f"{f}.{p}" and base.types.get(f, {}).get(p) != t
        }
        assert want, k
        assert metadata.changed_sensors(v0, entries(k)) == want, k
    assert metadata.changed_sensors(v0, entries(0)) == frozenset()


def test_column_memo_is_bounded(spark, monkeypatch):
    """The mapper's Column-tree memo drops its least recently used entry past
    its size, so keys made by registry edits cannot grow it forever."""
    monkeypatch.setattr(M, "_MEMO_SIZE", 4)
    # a fresh memo for this test; the session's own comes back afterwards
    monkeypatch.delitem(spark.sparkContext.__dict__, "_plenario_mapper_columns", raising=False)
    built = []
    for i in range(10):
        M._memo(("bounded", i), lambda i=i: built.append(i) or i)
    M._memo(("bounded", 9), lambda: built.append("again"))
    memo = spark.sparkContext._plenario_mapper_columns
    assert list(memo) == [("bounded", i) for i in range(6, 10)]
    assert built == list(range(10))
