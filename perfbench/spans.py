"""In-memory span tracing around the program's public calls.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
module or class attribute with a timing wrapper for the life of the run, and
``Tracer.wrap_actions`` times DataFrameWriter calls and ``collect`` under the
job description the stream pipeline sets (``mapper[<batch>]: <sink>``).
Nothing is written until the benchmark calls ``dump``.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# job-description suffix -> layer, for the stream pipeline's labels
SINK_LAYERS = (
    ("registry refresh", "metadata.refresh"),
    ("annotate cache", "mapper.annotate"),
    ("feature sink", "pipeline.feature_sink"),
    ("dead-letter sink", "pipeline.dead_letter_sink"),
    ("emit", "pipeline.emit_sink"),
    ("alert sink", "alerts.derive"),
    ("blacklist state", "pipeline.blacklist_state"),
)
_DESC = re.compile(r"mapper\[(\d+)\]: (.*)")


def sink_of(description: str) -> tuple[int, str] | None:
    """(batch id, layer) of a ``mapper[<batch>]: <sink>`` job description."""
    m = _DESC.fullmatch(description or "")
    if not m:
        return None
    for prefix, layer in SINK_LAYERS:
        if m.group(2).startswith(prefix):
            return int(m.group(1)), layer
    return int(m.group(1)), "pipeline.other"


@dataclass
class Span:
    id: int
    parent: int
    name: str
    layer: str
    unit: int  # micro-batch id or query index; -1 outside any unit
    start: float
    end: float


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.unit = -1
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.missing: list[str] = []  # wrap targets this version of the program lacks

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, layer, self.unit, start, end))

    def patch(self, owner, attr: str, make) -> bool:
        """Replace owner.attr with make(original) until uninstall(). A
        missing attribute is recorded in ``missing`` and left alone."""
        orig = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if orig is None:
            self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return False
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))
        return True

    def wrap(self, owner, attr: str, layer: str) -> bool:
        name = f"{getattr(owner, '__name__', owner)}.{attr}"

        def make(orig):
            def timed(*args, **kwargs):
                with self.span(name, layer):
                    return orig(*args, **kwargs)

            return timed

        return self.patch(owner, attr, make)

    def wrap_actions(self) -> None:
        """Time writes and collects issued under a stream job description."""
        from pyspark.sql import DataFrame, DataFrameWriter

        sc = self.spark.sparkContext

        def make_for(kind):
            def make(orig):
                def timed(*args, **kwargs):
                    hit = sink_of(sc.getLocalProperty("spark.job.description"))
                    if hit is None:
                        return orig(*args, **kwargs)
                    with self.span(kind, hit[1]):
                        return orig(*args, **kwargs)

                return timed

            return make

        for cls in _classes(DataFrameWriter, "pyspark.sql.classic.readwriter"):
            self.patch(cls, "parquet", make_for("write.parquet"))
            self.patch(cls, "json", make_for("write.json"))
        for cls in _classes(DataFrame, "pyspark.sql.classic.dataframe"):
            self.patch(cls, "collect", make_for("collect"))

    def wrap_mapper_layers(self) -> None:
        """Spans around the registry refresh and the mapper's plan builders,
        which both the stream and q_mapper_split_events call."""
        from plenario_mapper_spark import metadata
        from plenario_mapper_spark.operators import mapper

        for attr in ("_pin_local", "build_mapping", "sensor_kmap", "feature_registry"):
            self.wrap(metadata, attr, "metadata.refresh")
        for attr in ("normalize", "annotate", "sink_projection", "feature_rows", "dead_letter",
                     "emit_messages"):
            self.wrap(mapper, attr, "mapper.plan")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def self_times(self, units: set[int]) -> dict[str, float]:
        """Layer -> summed self time over spans of the given units. A span's
        self time is its duration minus the time its child spans cover."""
        spans = [s for s in self.spans if s.unit in units]
        child_time: dict[int, float] = {}
        for s in spans:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            own = (s.end - s.start) - child_time.get(s.id, 0.0)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _classes(base: type, classic_module: str) -> list[type]:
    """The public class and, where pyspark splits it, the classic
    implementation that shadows its methods."""
    import importlib

    out = [base]
    try:
        mod = importlib.import_module(classic_module)
        impl = getattr(mod, base.__name__)
        if impl is not base:
            out.append(impl)
    except (ImportError, AttributeError):
        pass
    return out


STREAM_LAYERS = (
    "metadata.refresh_s", "mapper.plan_s", "mapper.annotate_s", "pipeline.feature_sink_s",
    "pipeline.dead_letter_sink_s", "pipeline.emit_sink_s", "alerts.derive_s",
    "pipeline.blacklist_state_s", "pipeline.other_s", "engine.overhead_s",
)
QUERY_LAYERS = ("registry.build_s", "registry.exec_s")


def dominant_layer(workload: str, layers: dict) -> str:
    """One stderr line naming the layer with the largest share of a unit."""
    keys = QUERY_LAYERS if workload == "queries_cold" else STREAM_LAYERS
    top = max(keys, key=lambda k: layers.get(k, 0.0))
    covered = sum(layers.get(k, 0.0) for k in keys)
    if workload == "queries_cold":
        return (
            f"perfbench: {workload}: dominant layer {top} "
            f"({layers.get(top, 0.0):.2f} s of {covered:.2f} s build+exec per pass)"
        )
    wall = layers.get("trace.unit_s_p50", 0.0)
    return (
        f"perfbench: {workload}: dominant layer {top} ({layers.get(top, 0.0):.2f} s per batch); "
        f"layer self times cover {covered:.2f} s of the traced batch_s_p50 {wall:.2f} s "
        f"({100 * covered / wall if wall else 0:.0f}%)"
    )
