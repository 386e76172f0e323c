"""Seeded generator for the mapper-stream workload (stream_backfill).

Produces Array-of-Things-shaped observations in the reference's wire format
(one base64-encoded JSON record per line, as the KCL daemon hands them to
``processRecords``) plus, for every file, the outcome the mapper must produce.
The expected outcome is computed here from the registry rules alone, with no
Spark code, so the benchmark can check the program's sinks against it.

One file is one micro-batch (the benchmark releases file ``b + 1`` into the
watched directory when batch ``b`` ends), so batch ``b`` reads file ``b`` and
validates against registry version ``versions[b]``.
"""

from __future__ import annotations

import base64
import json
import os
import random
from dataclasses import dataclass, field

FLOAT, INTEGER, BOOL, VARCHAR = "FLOAT", "INTEGER", "BOOL", "VARCHAR"

# feature -> [(property, type)]. The first four are the reference's fixture
# features (tests/conftest.py); the rest extend it to an Array-of-Things node.
FEATURES: dict[str, list[tuple[str, str]]] = {
    "temperature": [("temperature", FLOAT)],
    "relative_humidity": [("humidity", FLOAT)],
    "magnetic_field": [("x", FLOAT), ("y", FLOAT), ("z", FLOAT)],
    "computer_vision": [
        ("standing_water", BOOL),
        ("cloud_type", VARCHAR),
        ("traffic_density", FLOAT),
        ("num_pedestrians", INTEGER),
    ],
    "atmospheric_pressure": [("pressure", FLOAT)],
    "light_intensity": [("intensity", FLOAT), ("lux", INTEGER)],
    "gas_concentration": [
        ("co", FLOAT), ("no2", FLOAT), ("o3", FLOAT), ("so2", FLOAT), ("h2s", FLOAT),
    ],
    "sound_level": [("db", FLOAT), ("peak", INTEGER)],
    "acceleration": [("x", FLOAT), ("y", FLOAT), ("z", FLOAT)],
    "ultraviolet_intensity": [("uv", FLOAT), ("index", INTEGER)],
    "device_status": [("online", BOOL), ("firmware", VARCHAR), ("uptime", INTEGER)],
    "particulate_matter": [("pm1", INTEGER), ("pm2_5", INTEGER), ("pm10", INTEGER)],
}

# sensor -> {raw_key: "feature.property"}; htu21d/hmc5883l/camera are the
# reference fixture sensors verbatim.
SENSORS: dict[str, dict[str, str]] = {
    "htu21d": {
        "humidity": "relative_humidity.humidity",
        "temp": "temperature.temperature",
        "temperature": "temperature.temperature",
    },
    "hmc5883l": {"x": "magnetic_field.x", "y": "magnetic_field.y", "z": "magnetic_field.z"},
    "camera": {
        "standing_water": "computer_vision.standing_water",
        "cloud_type": "computer_vision.cloud_type",
        "traffic_density": "computer_vision.traffic_density",
        "num_pedestrians": "computer_vision.num_pedestrians",
    },
}
for _name in ("tsys01", "tmp112", "tmp421", "pr103j2", "tmp36"):
    SENSORS[_name] = {"temp": "temperature.temperature"}
for _name in ("sht25", "hih6130", "hih4030"):
    SENSORS[_name] = {"humidity": "relative_humidity.humidity", "temp": "temperature.temperature"}
for _name in ("bmp180", "lps25h"):
    SENSORS[_name] = {"pressure": "atmospheric_pressure.pressure", "temp": "temperature.temperature"}
for _name in ("mlx75305", "tsl250rd", "tsl260rd", "apds9006"):
    SENSORS[_name] = {"intensity": "light_intensity.intensity", "lux": "light_intensity.lux"}
for _name in ("si1145", "ml8511"):
    SENSORS[_name] = {"uv": "ultraviolet_intensity.uv", "uv_index": "ultraviolet_intensity.index"}
for _name in ("chemsense", "alphasense_gas"):
    SENSORS[_name] = {g: f"gas_concentration.{g}" for g in ("co", "no2", "o3", "so2", "h2s")}
for _name in ("spv1840lr5h", "spu0410"):
    SENSORS[_name] = {"db": "sound_level.db", "peak": "sound_level.peak"}
for _name in ("bmi160", "mma8452q"):
    SENSORS[_name] = {"ax": "acceleration.x", "ay": "acceleration.y", "az": "acceleration.z"}
SENSORS["lsm303"] = {"mx": "magnetic_field.x", "my": "magnetic_field.y", "mz": "magnetic_field.z"}
for _name in ("metsense", "nc_status"):
    SENSORS[_name] = {
        "online": "device_status.online",
        "firmware": "device_status.firmware",
        "uptime": "device_status.uptime",
    }
for _name in ("alphasense_opc", "pms7003"):
    SENSORS[_name] = {
        "pm1": "particulate_matter.pm1",
        "pm2_5": "particulate_matter.pm2_5",
        "pm10": "particulate_matter.pm10",
    }

# Sensors that are not in the registry at v0. stream_backfill adds them one
# by one; until then their records dead-letter and alert "does_not_exist".
LATE_SENSORS: dict[str, dict[str, str]] = {
    f"wubdb{i}": {"intensity": "light_intensity.intensity", "lux": "light_intensity.lux"}
    for i in range(8)
}

NETWORKS = ("array_of_things_chicago", "array_of_things_denver")
CLOUDS = ("cumulonimbus", "cirrus", "stratus", "cumulus", "clear")
FIRMWARE = ("2.1.0", "2.1.3", "2.2.0")


@dataclass(frozen=True)
class Registry:
    """One registry version: sensor key maps and property types."""

    sensors: dict[str, dict[str, str]]
    types: dict[str, dict[str, str]]  # feature -> {property: type}

    def sensor_rows(self) -> list[tuple[str, dict[str, str]]]:
        return sorted(self.sensors.items())

    def feature_rows(self) -> list[tuple[str, list[tuple[str, str]]]]:
        return sorted((f, sorted(p.items())) for f, p in self.types.items())


def base_registry() -> Registry:
    return Registry(
        sensors={s: dict(m) for s, m in SENSORS.items()},
        types={f: dict(p) for f, p in FEATURES.items()},
    )


def registry_version(k: int) -> Registry:
    """Version k of the changing registry: one change per version, cycling
    through drop-a-key, retype-a-property and add-a-sensor. Drops and retypes
    are undone by the next version; added sensors stay."""
    reg = base_registry()
    for i in range(1, k // 3 + 1):
        name = f"wubdb{(i - 1) % len(LATE_SENSORS)}"
        reg.sensors[name] = dict(LATE_SENSORS[name])
    kind = k % 3
    if kind == 1:
        # drop a key: its records now carry an unknown key
        victim = sorted(SENSORS)[(k // 3) % len(SENSORS)]
        key = sorted(SENSORS[victim])[0]
        del reg.sensors[victim][key]
    elif kind == 2:
        # retype a VARCHAR property to FLOAT: its string values stop coercing
        feature, prop = (("computer_vision", "cloud_type"), ("device_status", "firmware"))[
            (k // 3) % 2
        ]
        reg.types[feature][prop] = FLOAT
    return reg


def _value(rng: random.Random, typ: str):
    if typ == FLOAT:
        return round(rng.uniform(-40.0, 120.0), 2)
    if typ == INTEGER:
        return rng.randint(0, 5000)
    if typ == BOOL:
        return rng.random() < 0.5
    return rng.choice(CLOUDS) if rng.random() < 0.5 else rng.choice(FIRMWARE)


_BAD_VALUE = {FLOAT: "high", INTEGER: "n/a", BOOL: "maybe"}


def _base_type(fp: str) -> str:
    """v0 type of a "feature.property" target (FLOAT for unregistered ones)."""
    feature, prop = fp.split(".", 1)
    return dict(FEATURES.get(feature, [])).get(prop, FLOAT)


def _coerces(value, typ: str | None) -> bool:
    """The reference's coercion rule (app/mapper.js:192-243), restricted to the
    value shapes this generator emits: numbers, booleans and plain words."""
    if typ is None:
        return False
    t = typ.lower()
    if t in ("varchar", "string"):
        return True
    if t in ("float", "double", "double precision"):
        return not isinstance(value, str)  # Number(true) == 1; Number("high") is NaN
    if t in ("integer", "int"):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if t in ("bool", "boolean"):
        return isinstance(value, bool) or value in (0, 1)
    return False


@dataclass
class Outcome:
    """What one batch must put in the sinks."""

    records: int = 0
    feature_rows: dict[str, int] = field(default_factory=dict)
    dead_letter: int = 0
    emits: int = 0
    raises: int = 0
    resolves: int = 0

    def add(self, other: "Outcome") -> None:
        self.records += other.records
        for f, n in other.feature_rows.items():
            self.feature_rows[f] = self.feature_rows.get(f, 0) + n
        self.dead_letter += other.dead_letter
        self.emits += other.emits
        self.raises += other.raises
        self.resolves += other.resolves


def _evaluate(reg: Registry | None, sensor: str, data: dict) -> tuple[bool, set[str]]:
    """(bad, clean features) of one normalised record against a registry;
    reg None is the empty startup registry."""
    kmap = None if reg is None else reg.sensors.get(sensor)
    if kmap is None:
        return True, set()
    bad, feats = False, set()
    for key, value in data.items():
        fp = kmap.get(key)
        if fp is None:
            bad = True
            continue
        feature, prop = fp.split(".", 1)
        if _coerces(value, reg.types.get(feature, {}).get(prop)):
            feats.add(feature)
        else:
            bad = True
    return bad, feats


def _normalise(data: dict) -> dict:
    """Lower-case keys the way the reference rewrites them in place: a
    non-lowercase key overwrites its lowercase twin, the last one winning."""
    out = {k: v for k, v in data.items() if k == k.lower()}
    for k, v in data.items():
        if k != k.lower():
            out[k.lower()] = v
    return out


@dataclass
class Plan:
    """Generated inputs: file paths in batch order and, per batch, the
    registry version and the expected outcome."""

    files: list[str]
    versions: list[int]
    outcomes: list[Outcome]


# Share of records given a defect, split evenly among unknown sensor, unknown
# key, coercion error and case-colliding keys (the last is clean once keys are
# lower-cased).
DIRTY = 0.30


class StreamGenerator:
    """Writes a backlog of wire-format files and the expected outcome of each.
    Batch b validates against registry version b // 2, so the registry changes
    every other batch."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.sensor_names = sorted(SENSORS)
        self.unknown_names = sorted(LATE_SENSORS) + ["spare_probe", "wx_legacy"]
        self.blacklist: set[str] = set()

    def _record(self) -> tuple[str, dict]:
        rng = self.rng
        roll = rng.random() / DIRTY  # < 1 for a dirty record
        if roll < 0.25:
            sensor = rng.choice(self.unknown_names)
            keys = LATE_SENSORS.get(sensor, {"level": "noise.level"})
        else:
            sensor = rng.choice(self.sensor_names)
            keys = SENSORS[sensor]
        data = {k: _value(rng, _base_type(fp)) for k, fp in keys.items()}
        if 0.25 <= roll < 0.5:
            data["x_extra"] = round(rng.uniform(0, 1), 3)
        elif 0.5 <= roll < 0.75:
            k = rng.choice([k for k, fp in keys.items() if _base_type(fp) != VARCHAR])
            data[k] = _BAD_VALUE[_base_type(keys[k])]
        elif 0.75 <= roll < 1:
            # case-colliding twin: the non-lowercase key wins after normalize
            k = rng.choice(sorted(keys))
            data[k.upper()] = data[k]
            data[k] = "shadowed"
        return sensor, data

    def _batch_outcome(
        self, records: list[tuple[str, dict]], stale: Registry | None, fresh: Registry
    ) -> Outcome:
        out = Outcome(records=len(records))
        changed = stale is None or stale != fresh
        events: list[tuple[str, str]] = []
        for sensor, raw in records:
            data = _normalise(raw)
            bad, feats = _evaluate(fresh, sensor, data)
            for f in feats:
                out.feature_rows[f] = out.feature_rows.get(f, 0) + 1
            out.emits += len(feats)
            out.dead_letter += bad
            discrepant = _evaluate(stale, sensor, data)[0] if changed else bad
            if discrepant:
                events.append((sensor, "error" if bad else "resolve"))
        # blacklist fold per sensor, in record order (alerts.apply_blacklist)
        state = {s: True for s in self.blacklist}
        for sensor, kind in events:
            if kind == "resolve":
                out.resolves += 1
                state[sensor] = False
            else:
                if not state.get(sensor, False):
                    out.raises += 1
                state[sensor] = True
        self.blacklist = {s for s, on in state.items() if on}
        return out

    def write(self, out_dir: str, sizes: list[int]) -> Plan:
        """One file per entry of sizes, with that many records."""
        os.makedirs(out_dir, exist_ok=True)
        files, versions, outcomes = [], [], []
        stale: Registry | None = None
        for b, n in enumerate(sizes):
            v = b // 2
            fresh = registry_version(v)
            records = [self._record() for _ in range(n)]
            lines = []
            for i, (sensor, data) in enumerate(records):
                rec = {
                    "node_id": f"{(b * 7 + i) % 97:03d}",
                    "meta_id": float(i % 40),
                    "datetime": f"2017-01-01T{(b // 60) % 24:02d}:{b % 60:02d}:{i % 60:02d}",
                    "sensor": sensor,
                    "network": NETWORKS[i % len(NETWORKS)],
                    "data": json.dumps(data),
                }
                lines.append(base64.b64encode(json.dumps(rec).encode()).decode())
            path = os.path.join(out_dir, f"part-{b:05d}.txt")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            files.append(path)
            versions.append(v)
            outcomes.append(self._batch_outcome(records, stale, fresh))
            stale = fresh
        return Plan(files, versions, outcomes)
