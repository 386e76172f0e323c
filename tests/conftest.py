import contextlib
import gc
import json

import pytest

from plenario_mapper_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="plenario-mapper-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


# Fixture metadata — exactly the reference's test fixtures
# (tests/configure_tests.js:38-75 / unit_tests.js:13-52).
SENSOR_META_ROWS = [
    (
        "htu21d",
        {
            "humidity": "relative_humidity.humidity",
            "temp": "temperature.temperature",
            "temperature": "temperature.temperature",
        },
    ),
    ("hmc5883l", {"x": "magnetic_field.x", "y": "magnetic_field.y", "z": "magnetic_field.z"}),
    (
        "camera",
        {
            "standing_water": "computer_vision.standing_water",
            "cloud_type": "computer_vision.cloud_type",
            "traffic_density": "computer_vision.traffic_density",
            "num_pedestrians": "computer_vision.num_pedestrians",
        },
    ),
]

FEATURE_META_ROWS = [
    ("temperature", [("temperature", "FLOAT")]),
    ("relative_humidity", [("humidity", "FLOAT")]),
    ("magnetic_field", [("x", "FLOAT"), ("y", "FLOAT"), ("z", "FLOAT")]),
    (
        "computer_vision",
        [
            ("standing_water", "BOOL"),
            ("cloud_type", "VARCHAR"),
            ("traffic_density", "FLOAT"),
            ("num_pedestrians", "INTEGER"),
        ],
    ),
]


@pytest.fixture(scope="session")
def sensor_meta(spark):
    from plenario_mapper_spark.schemas import SENSOR_METADATA_SCHEMA

    return spark.createDataFrame(SENSOR_META_ROWS, SENSOR_METADATA_SCHEMA)


@pytest.fixture(scope="session")
def feature_meta(spark):
    from plenario_mapper_spark.schemas import FEATURE_METADATA_SCHEMA

    return spark.createDataFrame(FEATURE_META_ROWS, FEATURE_METADATA_SCHEMA)


@pytest.fixture(scope="session")
def kmap_df(spark, sensor_meta, feature_meta):
    from plenario_mapper_spark import metadata

    mapping = metadata.build_mapping(sensor_meta, feature_meta)
    return metadata.sensor_kmap(mapping)


@pytest.fixture(scope="session")
def registry(feature_meta):
    from plenario_mapper_spark import metadata

    return metadata.feature_registry(feature_meta)


# The 8 canonical observations (integration_tests.js:110-207). `data` is the raw
# JSON object text so JSON value types survive into the variant parse.
CANONICAL_OBS = [
    ("001", 23.0, "2017-01-01T00:00:00", "htu21d", "array_of_things_chicago",
     {"Temp": 37.91, "Humidity": 27.48}),
    ("002", 23.0, "2017-01-01T00:00:00", "hmc5883l", "array_of_things_chicago",
     {"Y": 32.11, "Z": 90.92}),
    ("003", 23.0, "2017-01-01T00:00:00", "hmc5883l", "array_of_things_chicago",
     {"x1": 56.77, "y1": 32.11, "Z": 90.92}),
    ("004", 23.0, "2017-01-01T00:00:00", "camera", "array_of_things_chicago",
     {"standing_water": 10, "cloud_type": "cumulonimbus", "num_pedestrians": 9,
      "traffic_density": 0.38}),
    ("005", 23.0, "2017-01-01T00:00:00", "htu21d", "array_of_things_chicago",
     {"Temp": "high", "Humdrum": 27.48}),
    ("006", 23.0, "2017-01-01T00:00:00", "wubdb89", "array_of_things_chicago",
     {"intensity": 90}),
    ("007", 23.0, "2017-01-01T00:00:00", "camera", "array_of_things_chicago",
     {"standing_water": True, "cloud_type": "cumulonimbus", "num_pedestrians": 11,
      "traffic_density": 0.22}),
    ("008", 12.0, "2017-01-01T00:00:00", "htu21d", "internet_of_stuff_seattle",
     {"Temperature": 40.01}),
]


@pytest.fixture(scope="session")
def obs_df(spark):
    rows = [
        (i + 1, n, m, d, s, net, json.dumps(data))
        for i, (n, m, d, s, net, data) in enumerate(CANONICAL_OBS)
    ]
    return spark.createDataFrame(
        rows,
        "seq int, node_id string, meta_id double, datetime string, sensor string, "
        "network string, data string",
    )


def final_plan(df) -> str:
    """Executed-plan string with only the AQE Final Plan section.

    Once AQE marks ``isFinalPlan=true`` the executedPlan string contains BOTH
    ``== Final Plan ==`` and ``== Initial Plan ==`` sections, so substring
    counts (``plan.count('FileScan parquet')``) double depending on whether
    the plan materialized earlier in the session. Slice before counting.
    """
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


@contextlib.contextmanager
def count_py4j_calls(spark):
    """Yield a one-item list holding the number of py4j commands the driver
    sends inside the block. Deletions of garbage-collected JVM references
    ("m d" commands, sent whenever Python happens to free a wrapper) are not
    counted, and the cycle collector is paused, so the count repeats."""
    client = spark.sparkContext._gateway._gateway_client
    orig, count = client.send_command, [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            count[0] += 1
        return orig(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        yield count
    finally:
        client.send_command = orig
        gc.enable()
