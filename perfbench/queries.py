"""queries_cold: the headline registry queries, each built and run cold.

Every query runs after ``release_query_caches``, so a query pays its plan
build (the ``QUERIES[name]`` call, including any jobs the builder runs
eagerly) plus its execution (``count()``). Passes over the whole set, in
HEADLINE order, repeat until ``seconds`` have passed. Row counts are checked
against each query's DuckDB oracle on the same generated tables, outside the
timed section.

The order is fixed because a query's cold wall depends on what ran before it
in the same JVM: the first near-duplicate query of a pass pays 3-5 s that the
next ones do not, and early queries run slower than late ones. With an order
drawn from the seed, the per-query median spread 0.30 (IQR / median) over 10
seeds on a 4-CPU host; in HEADLINE order it spread 0.10 over 5 seeds. The
seed still draws the tables.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import tablegen
from spans import Tracer

# bench.py's HEADLINE set, pinned here so that editing bench.py does not
# change this workload: the reference hot path (q_mapper_split_events), the
# relational core, training-data ops and the spatial/interval/session joins.
HEADLINE = (
    "q_mapper_split_events",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q_window_rank",
    "q_events_sessionize",
    "q9_product_type_profit",
    "q_dedup_exact_docs",
    "q_dedup_minhash",
    "q_dedup_survivors",
    "q_dedup_cluster_cc",
    "q_embed_cosine_topk",
    "q_ann_ivf_topk",
    "q_doc_lang_signal",
    "q_doc_pack_sequences",
    "q_doc_redact_pii",
    "q_geo_radius_join",
    "q_join_interval_overlap",
    "q_events_sessions_closed",
    "q_doc_oov_rate",
    "q_events_attribution_linear",
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SCALE = 0.01
# On-disk artifacts the registry builds once per input and then reuses;
# building them belongs to set-up, not to a cold query.
ARTIFACT_QUERIES = ("q_ann_ivf_topk",)


def oracle_counts(data: str, names) -> dict[str, int]:
    import duckdb

    from plenario_mapper_spark.plans import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        return {
            q: con.execute(f"SELECT COUNT(*) FROM ({ORACLES[q]}) AS _oracle").fetchone()[0]
            for q in names
        }
    finally:
        con.close()


def run(spark, name: str, seed: int, seconds: int, work: str, probe, tracer: Tracer | None,
        clock0: float, layers: dict) -> dict:
    from plenario_mapper_spark.plans import QUERIES
    from plenario_mapper_spark.plans.registry import release_query_caches

    data = os.path.join(work, "tables")
    t = time.perf_counter()
    tablegen.generate(data, seed, SCALE)
    layers["setup.staging_s"] = time.perf_counter() - t

    t = time.perf_counter()
    for q in ARTIFACT_QUERIES:
        QUERIES[q](spark, data)
    release_query_caches(spark)
    layers["artifacts.build_s"] = time.perf_counter() - t

    if tracer is not None:
        tracer.wrap_mapper_layers()
    sc = spark.sparkContext
    walls: list[float] = []
    counts: dict[str, int] = {}
    per_query: dict[str, list[tuple[float, float]]] = {q: [] for q in HEADLINE}
    failures: list[str] = []
    pass_walls: list[float] = []
    setup_s = time.perf_counter() - clock0
    cpu0, t_start = probe.cpu_s(), time.perf_counter()
    unit = 0
    while True:
        t_pass = time.perf_counter()
        for q in HEADLINE:
            release_query_caches(spark)
            if tracer is not None:
                tracer.unit = unit
            unit += 1
            try:
                sc.setJobGroup(f"perfbench:build:{q}", q)
                t0 = time.perf_counter()
                if tracer is not None:
                    with tracer.span(f"build {q}", "registry.build"):
                        df = QUERIES[q](spark, data)
                else:
                    df = QUERIES[q](spark, data)
                t1 = time.perf_counter()
                sc.setJobGroup(f"perfbench:exec:{q}", q)
                n = df.count()
                t2 = time.perf_counter()
            except Exception as exc:  # a failing query is a failed unit; keep measuring
                failures.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
                continue
            finally:
                sc.setJobGroup("perfbench:idle", "")
            walls.append(t2 - t0)
            per_query[q].append((t1 - t0, t2 - t1))
            if counts.setdefault(q, n) != n:
                failures.append(f"{q}: {n} rows, an earlier pass gave {counts[q]}")
        pass_walls.append(time.perf_counter() - t_pass)
        if time.perf_counter() - t_start >= seconds:
            break
    cpu = probe.cpu_s() - cpu0
    release_query_caches(spark)
    if tracer is not None:
        tracer.uninstall()

    want = oracle_counts(data, HEADLINE)
    for q in HEADLINE:
        if q in counts and counts[q] != want[q]:
            failures.append(f"{q}: {counts[q]} rows, oracle {want[q]}")
    for line in failures:
        print(f"perfbench: {name}: {line}", file=sys.stderr)

    attempted = len(pass_walls) * len(HEADLINE)
    failed_units = min(len(failures), attempted)
    print(
        f"perfbench: {name}: {len(pass_walls)} pass(es) of {len(HEADLINE)} queries; "
        f"query_s_total={statistics.median(pass_walls):.3f} "
        f"query_s_p50={statistics.median(walls) if walls else float('nan'):.3f} (n={len(walls)}) "
        f"cpu_s={cpu:.2f} failed_frac={failed_units / attempted:.3f}",
        file=sys.stderr,
    )
    if not walls:
        return {"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}
    end_to_end = {
        "setup_s": setup_s,
        "unit_s_p50": statistics.median(walls),
        "unit_s_mean": statistics.median(pass_walls) / len(HEADLINE),
        "cpu_s_per_unit": cpu / len(walls),
        "peak_rss_mb": probe.peak_rss_mb(),
    }
    if tracer is not None:
        _layer_metrics(tracer, spark, per_query, len(pass_walls), layers)
        layers["trace.unit_s_p50"] = end_to_end["unit_s_p50"]
        tracer.dump(os.path.join(work, "..", "traces", f"{name}-{seed}.json"))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed_units,
        "metrics": end_to_end,
    }


def _layer_metrics(tracer: Tracer, spark, per_query: dict, passes: int, layers: dict) -> None:
    """Per-pass totals; per-query detail goes to stderr."""
    from probe import job_stats

    units = {s.unit for s in tracer.spans}
    self_s = tracer.self_times(units)
    layers["metadata.refresh_s"] = self_s.get("metadata.refresh", 0.0) / passes
    layers["mapper.plan_s"] = self_s.get("mapper.plan", 0.0) / passes
    by_query: dict[str, dict] = {}
    for j in job_stats(spark):
        parts = j.group.split(":")
        if len(parts) != 3 or parts[0] != "perfbench" or parts[1] not in ("build", "exec"):
            continue
        q = by_query.setdefault(
            parts[2], {"build_jobs": 0, "build_task_s": 0.0, "exec_task_s": 0.0, "exec_tasks": 0}
        )
        if parts[1] == "build":
            q["build_jobs"] += 1
        else:
            q["exec_tasks"] += j.tasks
        q[f"{parts[1]}_task_s"] += j.run_s
    for key in ("build_jobs", "build_task_s", "exec_task_s", "exec_tasks"):
        layers[f"registry.{key}"] = sum(q[key] for q in by_query.values()) / passes
    layers["registry.build_s"] = sum(b for runs in per_query.values() for b, _ in runs) / passes
    layers["registry.exec_s"] = sum(e for runs in per_query.values() for _, e in runs) / passes
    for q, runs in per_query.items():
        s = by_query.get(q, {})
        print(
            f"perfbench: queries_cold: {q}: build_s={sum(b for b, _ in runs):.3f} "
            f"exec_s={sum(e for _, e in runs):.3f} build_jobs={s.get('build_jobs', 0)} "
            f"build_task_s={s.get('build_task_s', 0.0):.2f} exec_task_s={s.get('exec_task_s', 0.0):.2f} "
            f"dominant={'build' if sum(b for b, _ in runs) >= sum(e for _, e in runs) else 'exec'}",
            file=sys.stderr,
        )
