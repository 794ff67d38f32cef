"""Empirical scale projection: measure a query's per-operator growth
between two fixture scales and project it to cluster scale.

The static advisor (plans/inspect.py) judges plan SHAPE; this module
judges the plan's measured BEHAVIOR — "measure, don't guess" applied
to the 100 TB question. It executes the same query at two scale
factors, reads the actual per-node SQL metrics Spark recorded
(shuffle bytes written per Exchange, broadcast data size, output rows
per join/generate/aggregate) from the SQLAppStatusStore, fits the
per-node growth exponent

    alpha = log(v_big / v_small) / log(input_growth)

where ``input_growth`` is the MEASURED growth of the query's own
parquet scans between the two runs — fixture tables do not all scale
with nominal SF (documents/embeddings are constant below sf0.1), so
nominal SF would mis-rate any node over a static table; the scan
rows ARE the ground truth for how much more data the plan ingested —
and classifies each node: ``bounded`` (alpha ≈ 0 — an
enumeration/calendar/anchor frame), ``linear`` (alpha ≈ 1 — data-sized,
the shape every scan/shuffle should have), ``superlinear`` (alpha
meaningfully above 1 — a pair blow-up that will not survive a 100×
scale-up). Projected volume at a target SF extrapolates the fitted
power law from the larger measurement.

Scope and honesty:

- Metrics come from the FINAL action's execution. Queries that
  materialize intermediates (localCheckpoint fit loops) contribute
  only their final plan here; the advisor + their own docstrings cover
  the loop bodies.
- Exponents fitted from two points carry fixture noise (fixed
  per-partition overheads flatten small exchanges; a 10× SF step is
  the minimum worth fitting). The class thresholds leave slack for
  that, and both raw values ride along in the report so a reader can
  re-derive everything.
- Only public Spark surfaces are read (SQLAppStatusStore /
  SparkPlanGraph via the session's JVM handle — the same data the SQL
  tab renders).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

_UNIT = {
    "B": 1,
    "KiB": 2**10,
    "MiB": 2**20,
    "GiB": 2**30,
    "TiB": 2**40,
    "PiB": 2**50,
    "EiB": 2**60,
}

_NUM = re.compile(r"([\d][\d,]*(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB)?")

#: node name -> (metric name to read, kind). Exchanges are judged by
#: shuffle volume; broadcasts by the built relation's size (the
#: broadcast-side bound the static prover reasons about); row-producing
#: operators by output rows (shuffle-write bytes can stay linear while
#: a join EXPLODES — rows are where quadratic behavior shows first).
_TRACKED: dict[str, tuple[str, str]] = {
    "Exchange": ("shuffle bytes written", "bytes"),
    "BroadcastExchange": ("data size", "bytes"),
    "SortMergeJoin": ("number of output rows", "rows"),
    "ShuffledHashJoin": ("number of output rows", "rows"),
    "BroadcastHashJoin": ("number of output rows", "rows"),
    "BroadcastNestedLoopJoin": ("number of output rows", "rows"),
    "CartesianProduct": ("number of output rows", "rows"),
    "Generate": ("number of output rows", "rows"),
    "HashAggregate": ("number of output rows", "rows"),
    "ObjectHashAggregate": ("number of output rows", "rows"),
    "SortAggregate": ("number of output rows", "rows"),
}

#: alpha at or below this is a bounded (data-volume-independent) node.
BOUNDED_ALPHA = 0.35
#: alpha at or below this is linear; above is superlinear. 1.35 leaves
#: slack for fixture noise on a 10x step while still catching a
#: genuine pair join (alpha -> 2) with a wide margin.
LINEAR_ALPHA = 1.35
#: values this small on BOTH sides are scheduling noise, not data.
_NOISE_FLOOR = {"bytes": 4096, "rows": 64}


def parse_metric(text: str) -> float:
    """First numeric token of a Spark SQL metric display string →
    float (bytes multiplied out; thousands separators stripped).
    Handles both plain sums ("6,000", "28.1 KiB") and the
    "total (min, med, max …)" multi-line aggregate form (the leading
    total is what we want)."""
    m = _NUM.search(text or "")
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNIT.get(m.group(2) or "", 1)


@dataclass
class NodeStat:
    node_id: int
    name: str
    kind: str  # bytes | rows
    value: float


@dataclass
class NodeScaling:
    name: str
    kind: str
    v_small: float
    v_big: float
    alpha: float
    cls: str
    projected_at_target: float


@dataclass
class ScalingReport:
    sf_small: float
    sf_big: float
    target_sf: float
    shape_match: bool
    input_growth: float = 1.0
    spill_bytes_at_big: float = 0.0
    nodes: list[NodeScaling] = field(default_factory=list)

    @property
    def worst(self) -> str:
        """Worst class over the plan's OPERATOR nodes. Scans are the
        input itself (linear by definition) and don't count — a plan
        whose final stage is all checkpoint scans (iterative fits)
        reads 'bounded' here; its loop body is the advisor's domain."""
        order = {"bounded": 0, "linear": 1, "superlinear": 2}
        ops = [n.cls for n in self.nodes if n.cls in order]
        if not ops:
            return "static-input" if any(
                n.cls == "static-input" for n in self.nodes
            ) else "bounded"
        return max(ops, key=order.get)


def _executed_metrics(spark, df):
    """Execute ``df`` end-to-end (noop sink — every column computed, no
    disk IO) and yield ``(node_id, node_name, metric_name, value_text)``
    for every metric THAT execution recorded, read from the
    SQLAppStatusStore."""
    df.write.mode("overwrite").format("noop").save()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eid = max(execs.apply(i).executionId() for i in range(execs.size()))
    mv = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        ms = node.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            v = mv.get(m.accumulatorId())
            if v.isDefined():
                yield node.id(), node.name(), m.name(), v.get()


def run_with_metrics(spark, df) -> tuple[list[NodeStat], float]:
    """Execute ``df`` (noop sink) once and return, from THAT execution,
    the tracked per-node metrics in plan-graph node order and the TOTAL
    spill bytes across all nodes ("spill size" covers sort / aggregate /
    join memory-pressure spills). File scans are tracked under the
    normalized name ``Scan`` (their measured output rows are the input
    ground truth the growth exponents are fitted against). A
    fixture-scale run of a well-sized plan must spill ZERO bytes
    (pinned in tests), and SCALE_PROJECTION.json records spill at the
    big SF so growth shows up between runs."""
    out: list[NodeStat] = []
    spill = 0.0
    for node_id, raw_name, metric_name, text in _executed_metrics(spark, df):
        if "spill size" in metric_name:
            spill += parse_metric(text)
        if raw_name.startswith("Scan"):
            name, (tracked, kind) = "Scan", ("number of output rows", "rows")
        elif raw_name in _TRACKED:
            name, (tracked, kind) = raw_name, _TRACKED[raw_name]
        else:
            continue
        if metric_name == tracked:
            out.append(NodeStat(node_id, name, kind, parse_metric(text)))
    return sorted(out, key=lambda s: s.node_id), spill


def _classify(kind: str, v1: float, v2: float, ratio: float) -> tuple[float, str]:
    floor = _NOISE_FLOOR[kind]
    if v1 <= floor and v2 <= floor:
        return 0.0, "bounded"
    alpha = math.log(max(v2, 1.0) / max(v1, 1.0)) / math.log(ratio)
    if alpha <= BOUNDED_ALPHA:
        return alpha, "bounded"
    if alpha <= LINEAR_ALPHA:
        return alpha, "linear"
    return alpha, "superlinear"


def scaling_report(
    build,
    spark,
    small_dir: str,
    big_dir: str,
    sf_small: float,
    sf_big: float,
    target_sf: float = 100.0,
) -> ScalingReport:
    """Measure ``build(spark, dir)`` at two fixture scales and fit the
    per-node growth law. Nodes are matched per-name in plan order
    (k-th Exchange to k-th Exchange, …); if the two executions do not
    even produce the same tracked-node name sequence, ``shape_match``
    is False — itself a finding (the planner changed strategy between
    scales, e.g. a broadcast flipping to sort-merge) — and only the
    per-name matched prefix is fitted.

    Exponents are fitted against the MEASURED input growth: the
    largest matched-scan row-count ratio between the two runs. If no
    scan grew (a query over fixture tables that are constant between
    the chosen dirs), there is nothing to fit — every non-scan node is
    reported ``static-input`` rather than pretending alpha = 0 means
    bounded. The big run's total spill rides along as
    ``spill_bytes_at_big``; each SF is built and executed once."""
    small, _ = run_with_metrics(spark, build(spark, small_dir))
    big, spill = run_with_metrics(spark, build(spark, big_dir))
    shape_match = [s.name for s in small] == [b.name for b in big]
    by_name_small: dict[str, list[NodeStat]] = {}
    for s in small:
        by_name_small.setdefault(s.name, []).append(s)
    by_name_big: dict[str, list[NodeStat]] = {}
    for b in big:
        by_name_big.setdefault(b.name, []).append(b)
    growth = 1.0
    for s, b in zip(by_name_small.get("Scan", []), by_name_big.get("Scan", [])):
        if s.value > 0:
            growth = max(growth, b.value / s.value)
    report = ScalingReport(sf_small, sf_big, target_sf, shape_match, growth, spill)
    fittable = growth > 1.05
    for name, bigs in by_name_big.items():
        smalls = by_name_small.get(name, [])
        for s, b in zip(smalls, bigs):
            if fittable:
                alpha, cls = _classify(b.kind, s.value, b.value, growth)
                projected = b.value * (target_sf / sf_big) ** alpha
                if name == "Scan":
                    cls = "input"
            else:
                alpha, cls, projected = 0.0, "static-input", float("nan")
            report.nodes.append(
                NodeScaling(name, b.kind, s.value, b.value, alpha, cls, projected)
            )
    return report


def report_dict(name: str, rep: ScalingReport) -> dict:
    """JSON-able form for the per-round artifact."""
    return {
        "query": name,
        "sf_small": rep.sf_small,
        "sf_big": rep.sf_big,
        "target_sf": rep.target_sf,
        "shape_match": rep.shape_match,
        "input_growth": round(rep.input_growth, 3),
        "spill_bytes_at_big": rep.spill_bytes_at_big,
        "worst": rep.worst,
        "nodes": [
            {
                "name": n.name,
                "kind": n.kind,
                "v_small": n.v_small,
                "v_big": n.v_big,
                "alpha": round(n.alpha, 3),
                "class": n.cls,
                "projected_at_target": (
                    None
                    if math.isnan(n.projected_at_target)
                    else round(n.projected_at_target, 1)
                ),
            }
            for n in rep.nodes
        ],
    }


def main() -> None:
    """Write SCALE_PROJECTION.json for a representative query set:
    the flagship star build, scan-heavy TPC-H shapes, each extension
    family's scale path, and — deliberately — the documented
    correctness-tier exact pair scan, which MUST come out superlinear
    (the measured twin of the advisor's one true-positive CRITICAL)."""
    import argparse
    import json

    from kickstarter_etl_pipeline_spark.queries import queries
    from kickstarter_etl_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser()
    # sf0.01 -> sf0.1 by default: the one fixture step where EVERY
    # table (documents/embeddings included) actually grows.
    ap.add_argument("--small", default="/root/testdata/sf0.01")
    ap.add_argument("--big", default="/root/testdata/sf0.1")
    ap.add_argument("--target-sf", type=float, default=100.0)
    ap.add_argument("--out", default="SCALE_PROJECTION.json")
    ap.add_argument(
        "--queries",
        default=(
            "star_flagship,q1_pricing_summary,q7_nation_volume,"
            "dedup_exact,minhash_dedup_pairs,ann_lsh_topk,"
            "snm_blocking_report,classifier_curation_manifest,"
            "embedding_near_dup_exact,"
            # composed end-to-end units + the PPJoin-vs-brute contrast
            # (does the prefix filter stay sub-quadratic when the
            # fixture's ~40-word vocabulary saturates the shingle
            # space? measured, not assumed) + one iterative-graph rep.
            "curation_pack_manifest,preference_dataset_manifest,"
            "jaccard_prefix_join,ngram_jaccard_pairs,graph_pagerank,"
            # late-r14 families: the BPE trainer (Heaps'-law vocab —
            # its loop cost must stay flat while the v0 groupBy scan
            # grows) and its packing composition.
            "bpe_train_merges,bpe_pack_manifest"
        ),
    )
    args = ap.parse_args()

    def scale_factor(sf_dir: str) -> float:
        # bench.py's rule: the SF is the number after "sf" in the dir.
        match = re.search(r"sf([0-9.]+)", sf_dir)
        if not match:
            ap.error(f"{sf_dir}: the directory name carries no sfN scale factor")
        return float(match.group(1))

    sf_small, sf_big = scale_factor(args.small), scale_factor(args.big)
    spark = get_spark("scale-projection")
    reg = queries()
    out = []
    for name in args.queries.split(","):
        rep = scaling_report(
            reg[name],
            spark,
            args.small,
            args.big,
            sf_small,
            sf_big,
            args.target_sf,
        )
        d = report_dict(name, rep)
        print(
            json.dumps(
                {k: d[k] for k in ("query", "worst", "shape_match", "spill_bytes_at_big")}
            )
        )
        out.append(d)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
