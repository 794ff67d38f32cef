"""Plan inspection — V1/V2 validation extended to the physical plan.

The reference logs schema and sample rows (``src/etl_pipeline.py:74-75``)
as its observability surface. At cluster scale the thing worth watching
is the PLAN: did the filter reach the scan, did the dim broadcast, how
many shuffles will this query pay. ``plan_summary`` condenses
``explain('formatted')`` into a dict so pipelines can assert on plan
shape programmatically (the same checks tests/test_plan_shapes.py makes,
exposed as a runtime API).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_text(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_summary(df: DataFrame) -> dict:
    """Condense the physical plan into the scale-relevant facts."""
    text = explain_text(df)
    pushed: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", text):
        if m.group(1).strip():
            pushed.extend(p.strip() for p in m.group(1).split(","))
    read_schemas = re.findall(r"ReadSchema: struct<(.*?)>", text)
    # Formatted explain prints each operator twice (tree + numbered
    # details) — count only the "(n) Operator" detail headers.
    def n_ops(pattern: str) -> int:
        return len(re.findall(rf"^\(\d+\) {pattern}", text, flags=re.MULTILINE))

    return {
        "n_scans": n_ops(r"Scan (parquet|csv|orc|json)"),
        "n_exchanges": n_ops(r"Exchange\b"),
        "n_broadcast_joins": n_ops(r"BroadcastHashJoin"),
        "n_sortmerge_joins": n_ops(r"SortMergeJoin"),
        "n_nested_loop_joins": n_ops(r"BroadcastNestedLoopJoin"),
        "has_cartesian": "CartesianProduct" in text,
        "pushed_filters": pushed,
        "read_columns": sorted(
            {c.split(":")[0] for schema in read_schemas for c in schema.split(",") if ":" in c}
        ),
        # formatted mode marks codegen'd operators with "[codegen id : N]"
        "whole_stage_codegen": "codegen id" in text or "WholeStageCodegen" in text,
    }


def _parse_tree(text: str) -> list[tuple[int, str, str]]:
    """Parse the formatted explain's tree section into
    (indent, operator name, id) triples, in pre-order."""
    tree: list[tuple[int, str, str]] = []
    for line in text.splitlines():
        m = re.match(r"^([:+\-| ]*)(?:\* )?([A-Za-z][\w .]*?) \((\d+)\)\s*$", line)
        if m:
            tree.append((len(m.group(1)), m.group(2), m.group(3)))
    return tree


def _detail_blocks(text: str) -> dict[str, str]:
    """Map operator id → its detail block ("(4) Exchange\\nArguments: …")."""
    blocks: dict[str, str] = {}
    for m in re.finditer(
        r"^\((\d+)\) [A-Za-z][^\n]*\n((?:(?!\(\d+\) )[^\n]*\n?)*)",
        text,
        flags=re.MULTILINE,
    ):
        blocks[m.group(1)] = m.group(2)
    return blocks


def _children(tree: list[tuple[int, str, str]], idx: int) -> list[int]:
    """Direct children of tree[idx]: the minimal-indent nodes in its
    following deeper-indented span."""
    ind = tree[idx][0]
    span: list[int] = []
    for j in range(idx + 1, len(tree)):
        if tree[j][0] <= ind:
            break
        span.append(j)
    if not span:
        return []
    child_ind = min(tree[j][0] for j in span)
    return [j for j in span if tree[j][0] == child_ind]


#: A LIMIT / rank-filter literal at or below this is a constant-bounded
#: frame (safe to broadcast-nested-loop against); above it, the "limit"
#: is really a data-sized cap and stays CRITICAL.
_BOUNDED_LIMIT = 1000

#: Single-child operators that preserve (or reduce) a one-row bound.
_ROW_PRESERVING = (
    "Project",
    "Filter",
    "BroadcastExchange",
    "Exchange",
    "Sort",
    "Window",
    "WindowGroupLimit",
    "ColumnarToRow",
    "InputAdapter",
    "Coalesce",
    "AQEShuffleRead",
    "Subquery",
    "HashAggregate",  # handled specially below (grouped vs global)
)


def _subtree_span(tree: list[tuple[int, str, str]], idx: int) -> list[int]:
    """Indices of the whole subtree rooted at tree[idx] (inclusive)."""
    ind = tree[idx][0]
    span = [idx]
    for j in range(idx + 1, len(tree)):
        if tree[j][0] <= ind:
            break
        span.append(j)
    return span


#: Expression heads whose value space is bounded by the CALENDAR, not
#: by data volume: a group-by on one of these yields at most a few
#: thousand groups per decade of data, independent of row count.
#: The defining segment must CONSIST of one calendar call (boundary
#: anchored, one level of nested parens allowed) — merely CONTAINING a
#: calendar call is not a bound (`concat(year(d), user_id)` is
#: data-sized; caught by test_prover_calendar_branch_rejects_mixed_keys).
_CAL_ARGS = r"(?:[^()\n]|\([^()\n]*\))*"
_CALENDAR_EXPR = (
    r"(?:\[|, )(?:cast\([\w#.]+ as date\)|"
    r"(?:to_date|date_trunc|year|month|quarter|weekofyear|dayofweek)"
    r"\(" + _CAL_ARGS + r"\)) AS {key}\b"
)


def _calendar_bounded_agg(
    tree: list[tuple[int, str, str]], details: dict[str, str], idx: int
) -> bool:
    """True iff the aggregate at tree[idx] groups ONLY by keys whose
    defining expressions (found as ``<expr> AS key#id`` in the subtree's
    detail blocks) are calendar functions — date-cast, date_trunc,
    year/month/etc. Such an aggregate's cardinality grows with elapsed
    TIME, not data volume (a decade of days is 3,653 rows at any sf),
    so broadcasting it is a calendar-spine device, not a pair blow-up."""
    det = details.get(tree[idx][2], "")
    m = re.search(r"Keys(?: \[\d+\])?: \[([^\]]*)\]", det)
    if not m or not m.group(1).strip():
        return False
    keys = re.findall(r"[\w]+#\d+", m.group(1))
    if not keys:
        return False
    sub_text = "\n".join(
        details.get(tree[j][2], "") for j in _subtree_span(tree, idx)
    )
    for key in keys:
        pat = _CALENDAR_EXPR.format(key=re.escape(key))
        if not re.search(pat, sub_text):
            return False
    return True


def _one_row_subtree(
    tree: list[tuple[int, str, str]], details: dict[str, str], idx: int
) -> bool:
    """True iff the subtree at tree[idx] provably produces at most ONE
    row (or a constant-bounded handful): a global aggregate
    ("Keys: []"), a LIMIT at or below _BOUNDED_LIMIT, a literal local
    relation, a calendar-spine Generate/aggregate, or joins /
    pass-through operators over such. Conservative — anything
    unrecognized returns False."""
    _, name, oid = tree[idx]
    if "Aggregate" in name:
        det = details.get(oid, "")
        if re.search(r"Keys(?: \[\d+\])?: \[\]", det):
            return True
        if _calendar_bounded_agg(tree, details, idx):
            return True
        kids = _children(tree, idx)  # grouped agg of one row is one row
        return bool(kids) and all(_one_row_subtree(tree, details, k) for k in kids)
    if name.startswith("Generate"):
        # explode(sequence(lo, hi, step)) over a one-row child is the
        # calendar-spine device: output rows = the span of ONE row's
        # sequence (time-range / step), independent of data volume.
        if "sequence(" in details.get(oid, ""):
            kids = _children(tree, idx)
            return bool(kids) and all(
                _one_row_subtree(tree, details, k) for k in kids
            )
        return False
    if name.startswith(("GlobalLimit", "CollectLimit", "TakeOrderedAndProject")):
        # Bounded by the literal limit — but only when the literal is
        # actually small: limit(10_000_000) is not a benign broadcast
        # side (ADVICE r13). The formatted detail renders the limit as
        # the first integer of the Arguments line ("Arguments: 16" /
        # "Arguments: 100, [x ASC], [cols]").
        m = re.search(r"Arguments:\s*(\d+)", details.get(oid, ""))
        return bool(m) and int(m.group(1)) <= _BOUNDED_LIMIT
    if name.startswith("LocalTableScan") or name == "Scan OneRowRelation":
        # Literal local relation: rows are driver-embedded constants
        # (band spines, anchor grids; ranking.control_frame caps them at
        # CONTROL_ROWS_CAP) — bounded by construction.
        return True
    if name.startswith("Range"):
        # spark.range(n) literal spine (band grids, percentile spines).
        m = re.search(r"Range \((-?\d+), (-?\d+)", details.get(oid, ""))
        return bool(m) and abs(int(m.group(2)) - int(m.group(1))) <= _BOUNDED_LIMIT
    if "Join" in name or name.startswith("CartesianProduct"):
        kids = _children(tree, idx)
        return len(kids) == 2 and all(
            _one_row_subtree(tree, details, k) for k in kids
        )
    if any(name.startswith(p) for p in _ROW_PRESERVING):
        kids = _children(tree, idx)
        return bool(kids) and all(_one_row_subtree(tree, details, k) for k in kids)
    return False


def _pid_bounded_subtree(
    tree: list[tuple[int, str, str]], details: dict[str, str], idx: int
) -> bool:
    """True iff the subtree at tree[idx] is (row-preserving ops over) a
    grouped aggregate whose EVERY group key is defined by
    ``spark_partition_id() AS key`` in the subtree — output ≤ P rows
    (the cluster's partition count), the two_phase_rank control frame.

    Deliberately NOT part of _one_row_subtree: P is bounded by the
    CLUSTER, not by a constant — fine to funnel through one task or
    broadcast-hash-join (the documented two-phase-rank posture), but a
    P-row BNLJ build side would still be P comparisons per probe row,
    so the constant-bound prover must not absorb this rule."""
    _, name, oid = tree[idx]
    if "Aggregate" in name:
        det = details.get(oid, "")
        m = re.search(r"Keys(?: \[\d+\])?: \[([^\]]*)\]", det)
        if not m or not m.group(1).strip():
            return False
        keys = re.findall(r"[\w]+#\d+", m.group(1))
        if not keys:
            return False
        sub_text = "\n".join(
            details.get(tree[j][2], "") for j in _subtree_span(tree, idx)
        )
        return all(
            re.search(
                # rendered SPARK_PARTITION_ID() in formatted details,
                # spark_partition_id() in SQL text — match either case
                r"(?i)spark_partition_id\(\) AS " + re.escape(key) + r"\b",
                sub_text,
            )
            for key in keys
        )
    if any(name.startswith(p) for p in _ROW_PRESERVING):
        kids = _children(tree, idx)
        return bool(kids) and all(
            _pid_bounded_subtree(tree, details, k) for k in kids
        )
    return False


def _classify_nested_loop_joins(text: str) -> tuple[int, int]:
    """(benign, total) BroadcastNestedLoopJoins in the plan: benign =
    the BROADCAST side is provably ≤ a constant number of rows (the
    scalar-totals / one-row-argmax crossJoin device), where the join is
    O(n·c) — a per-row constant lookup, not a pair blow-up."""
    tree = _parse_tree(text)
    details = _detail_blocks(text)
    benign = total = 0
    for i, (_ind, name, _oid) in enumerate(tree):
        if not name.startswith("BroadcastNestedLoopJoin"):
            continue
        total += 1
        kids = _children(tree, i)
        if len(kids) != 2:
            continue
        build = kids[0] if "BuildLeft" in name else kids[1]
        if _one_row_subtree(tree, details, build):
            benign += 1
    return benign, total


def _classify_cartesian(text: str) -> tuple[int, int]:
    """(benign, total) CartesianProducts: benign = BOTH sides provably
    constant-bounded (the nation-pair / anchor-pair device), where the
    product is c² rows — a constant, not a data blow-up."""
    tree = _parse_tree(text)
    details = _detail_blocks(text)
    benign = total = 0
    for i, (_ind, name, _oid) in enumerate(tree):
        if not name.startswith("CartesianProduct"):
            continue
        total += 1
        kids = _children(tree, i)
        if len(kids) == 2 and all(
            _one_row_subtree(tree, details, k) for k in kids
        ):
            benign += 1
    return benign, total


def _single_partition_feeds_only_aggregates(text: str) -> bool:
    """True iff EVERY SinglePartition exchange in a formatted plan is
    consumed by an aggregate operator — the partial→final global-
    aggregate pattern, where the one-task exchange carries only one
    partial row per input partition and is therefore benign — or by a
    GlobalLimit at or below _BOUNDED_LIMIT (the anchor-closure ``limit
    k`` device: LocalLimit caps every partition at k before the
    exchange, so at most k·P constant-bounded rows funnel through),
    or fed by a provably bounded INPUT subtree (a constant-bounded
    anchor closure, or the ≤P-row spark_partition_id-keyed control
    aggregate that two_phase_rank's offset window rides — r14: the
    input-volume bound makes the consumer's shape irrelevant).

    Parses the formatted explain's two sections: the detail blocks
    ("(4) Exchange\\nArguments: SinglePartition, ...") name WHICH
    exchanges are single-partition; the tree ("+- Exchange (4)") gives
    each one's parent (the nearest shallower-indented line above).
    Any parse miss or non-aggregate parent returns False — the caller
    then keeps the loud WARN, so the soft path only triggers on plans
    this function fully understood.
    """
    # a detail block is "(4) Exchange" followed by Output/Input/
    # Arguments lines until the next "(n) Op" header — Arguments is
    # NOT necessarily the first line, so scan within the block.
    sp_ids = set(
        re.findall(
            r"\((\d+)\) Exchange\n(?:(?!\(\d+\) )[^\n]*\n)*?Arguments: SinglePartition",
            text,
        )
    )
    if not sp_ids:
        return False
    tree: list[tuple[int, str, str]] = []
    for line in text.splitlines():
        m = re.match(r"^([:+\-| ]*)(?:\* )?([A-Za-z][\w .]*?) \((\d+)\)\s*$", line)
        if m:
            tree.append((len(m.group(1)), m.group(2), m.group(3)))
    details = _detail_blocks(text)
    seen = set()
    for i, (indent, _name, oid) in enumerate(tree):
        if oid not in sp_ids:
            continue
        seen.add(oid)
        # Input-volume bound beats consumer shape: if the exchange's
        # CHILD subtree is provably constant-bounded (anchor closures)
        # or ≤ P rows (a spark_partition_id-keyed aggregate — the
        # two_phase_rank control frame), the one-task funnel carries
        # control data regardless of what consumes it (Sort, Window).
        kids = _children(tree, i)
        if kids and all(
            _one_row_subtree(tree, details, k)
            or _pid_bounded_subtree(tree, details, k)
            for k in kids
        ):
            continue
        parent = None
        parent_oid = None
        for j in range(i - 1, -1, -1):
            if tree[j][0] < indent:
                parent, parent_oid = tree[j][1], tree[j][2]
                break
        if parent is None:
            return False
        if "Aggregate" in parent:
            continue
        if parent.startswith(("GlobalLimit", "TakeOrderedAndProject")):
            m = re.search(r"Arguments:\s*(\d+)", details.get(parent_oid, ""))
            if m and int(m.group(1)) <= _BOUNDED_LIMIT:
                continue
        return False
    return seen == sp_ids


#: Operators a predicate cannot be pushed below without changing
#: results (window/aggregate/generate consume the pre-filter row set)
#: or that sever the pushdown path entirely (Python evaluation).
_PUSHDOWN_BARRIERS = (
    "Window",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "Generate",
    "Expand",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
)


def _strip_outer_parens(s: str) -> str:
    """Remove BALANCED outer paren layers ('(a AND b)' -> 'a AND b',
    but '(a) AND (b)' stays)."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        balanced = True
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(s) - 1:
                    balanced = False
                    break
        if not balanced:
            break
        s = s[1:-1].strip()
    return s


def _top_level_conjuncts(cond: str) -> list[str]:
    """Split a rendered Filter condition on paren-depth-0 ' AND '
    (after stripping balanced outer parens)."""
    cond = _strip_outer_parens(cond)
    parts: list[str] = []
    depth = 0
    start = 0
    i = 0
    while i < len(cond):
        ch = cond[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and cond.startswith(" AND ", i):
            parts.append(cond[start:i])
            start = i + 5
            i += 4
        i += 1
    parts.append(cond[start:])
    return [_strip_outer_parens(p) for p in parts if p.strip()]


_BARE_PUSHABLE = re.compile(
    # a conjunct a parquet scan could take verbatim: isnotnull/isnull of
    # a BARE attribute, or a comparison/IN with the bare attribute on
    # one side and no function wrapping it
    r"^(?:"
    r"isnotnull\(\w+#\d+L?\)"
    r"|isnull\(\w+#\d+L?\)"
    r"|\(?\w+#\d+L?\)? *(?:=|>|<|>=|<=|<=>) *[^()]+"
    r"|[^()]+ *(?:=|>|<|>=|<=|<=>) *\(?\w+#\d+L?\)?"
    r"|\w+#\d+L? IN \([^()]*\)"
    r")$"
)


def _missed_raw_pushdown(text: str) -> bool:
    """True iff some Filter holds a conjunct a parquet scan could have
    taken verbatim (a bare-attribute null test / comparison / IN on a
    column the scan below it outputs) with NO semantic barrier
    (window/aggregate/generate/Python eval) between the filter and the
    scan — i.e. a pushdown that genuinely should have happened and
    didn't. Filters on derived expressions, and raw-column filters
    pinned above a window (first/last-touch shapes, where pushing would
    change results), return False — those are the plan working as
    designed, demoted to INFO by the caller."""
    tree = _parse_tree(text)
    details = _detail_blocks(text)
    scan_out: dict[int, set[str]] = {}
    for j, (_i, name, oid) in enumerate(tree):
        # FILE scans only: an ExistingRDD (checkpoint) scan has no
        # pushdown machinery, so a filter above it is not a miss
        if name.startswith(("Scan parquet", "Scan csv", "Scan orc", "Scan json")):
            det = details.get(oid, "")
            m = re.search(r"Output(?: \[\d+\])?: \[([^\]]*)\]", det)
            scan_out[j] = set(re.findall(r"\w+#\d+L?", m.group(1))) if m else set()
    for i, (_ind, name, oid) in enumerate(tree):
        if not name.startswith("Filter"):
            continue
        m = re.search(r"Condition : (.*)", details.get(oid, ""))
        if not m:
            continue
        span = _subtree_span(tree, i)
        scans = [j for j in span if j in scan_out]
        if not scans:
            continue
        attrs_below = set().union(*(scan_out[j] for j in scans))
        barrier = any(
            tree[j][1].startswith(_PUSHDOWN_BARRIERS) for j in span if j != i
        )
        if barrier:
            continue
        for conj in _top_level_conjuncts(m.group(1)):
            conj_attrs = set(re.findall(r"\w+#\d+L?", conj))
            if (
                conj_attrs
                and conj_attrs <= attrs_below
                and _BARE_PUSHABLE.match(conj)
            ):
                return True
    return False


def advise(df: DataFrame) -> list[str]:
    """Scale-hazard advisor: the judgments the repo's plan-shape tests
    make about ITS queries, exposed for a user's OWN queries — run it
    before shipping a pipeline to a large cluster and fix what it
    names. Pure plan-text analysis (no job runs). Each finding is one
    actionable sentence prefixed with a severity tag.

    What it flags (and why it matters at 100 TB):

    - ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — a join with
      no usable equi-key; O(n·m) at scale. Usually a missing join
      condition or a non-equi predicate that needs a banding key.
    - ``Exchange SinglePartition`` — a global sort/limit/window
      funneling EVERYTHING through one task (the classic
      Window-without-partitionBy trap; use two_phase_rank-style range
      exchanges, TakeOrderedAndProject, or partial aggregates). When
      every such exchange feeds a final aggregate (the partial→final
      global-summary pattern), only one partial row per partition
      crosses it — that case is demoted to INFO, not WARN.
    - filters that did not reach a file scan — a scan reading rows a
      Filter above it immediately drops; rewrite the predicate on the
      scanned column (not on a derived expression) so it pushes down.
    - no whole-stage codegen anywhere — the plan runs on the
      interpreted path end to end (Python UDFs or exotic operators);
      move hot expressions to built-in Column functions.
    """
    text = explain_text(df)
    s = plan_summary(df)
    findings: list[str] = []
    if s["has_cartesian"]:
        c_benign, c_total = _classify_cartesian(text)
        if c_total - c_benign:
            findings.append(
                "CRITICAL: CartesianProduct in the plan — O(n·m) pair blow-up "
                "at scale; add an equi-join key or a banding/bucketing key."
            )
        if c_benign:
            findings.append(
                f"INFO: {c_benign} CartesianProduct(s) with BOTH sides "
                "provably constant-bounded (global aggregate / small LIMIT / "
                "literal relation): c² constant rows, not a data blow-up."
            )
    if s["n_nested_loop_joins"]:
        benign, total = _classify_nested_loop_joins(text)
        risky = total - benign
        if risky:
            findings.append(
                f"CRITICAL: {risky} BroadcastNestedLoopJoin(s) with an "
                "unbounded broadcast side — non-equi join semantics; every "
                "probe row scans the whole broadcast side. Restructure as an "
                "equi-join on a derived key (range bands, buckets) unless "
                "that side is provably tiny."
            )
        if benign:
            findings.append(
                f"INFO: {benign} BroadcastNestedLoopJoin(s) whose broadcast "
                "side is provably bounded (global aggregate / LIMIT — the "
                "scalar-totals crossJoin device): O(n·c) per-row constant "
                "lookup, not a pair blow-up."
            )
    # formatted mode renders the distribution in the operator's
    # Arguments line ("Arguments: SinglePartition, ..."), not the
    # "(n) Exchange" header.
    if "SinglePartition" in text:
        if _single_partition_feeds_only_aggregates(text):
            findings.append(
                "INFO: Exchange SinglePartition carrying only bounded control "
                "data — a final-aggregate's partial rows, a small GlobalLimit "
                "closure, or a spark_partition_id-keyed control frame (≤ P "
                "rows, the two-phase-rank offset device); nothing to fix "
                "unless the aggregate state itself is huge (collect_list of "
                "the data)."
            )
        else:
            findings.append(
                "WARN: Exchange SinglePartition — a global sort/window/limit "
                "is funneling all rows through ONE task; partition the "
                "window, use a range-exchange two-phase rank, or a "
                "TakeOrderedAndProject top-k instead."
            )
    n_filters = len(re.findall(r"^\(\d+\) Filter\b", text, flags=re.MULTILINE))
    if s["n_scans"] and n_filters and not s["pushed_filters"]:
        # r15 precision pass (the previous blanket rule flagged 53
        # registry paths, ALL of which turned out to be filters on
        # derived expressions or raw-column filters semantically pinned
        # above a window/aggregate — plans working as designed): WARN
        # only when a bare raw-column conjunct failed to push with no
        # barrier between the filter and the scan.
        if _missed_raw_pushdown(text):
            findings.append(
                "WARN: a bare raw-column predicate did not reach its scan "
                "(PushedFilters empty, no window/aggregate barrier below "
                "the Filter) — move the predicate above the first "
                "projection / check the scan supports that filter type."
            )
        else:
            findings.append(
                "INFO: Filters present but none pushed to a scan — every "
                "unpushed predicate tests a derived expression or sits "
                "above a window/aggregate it cannot cross without "
                "changing results; nothing to fix."
            )
    # An UNEXECUTED AdaptiveSparkPlan renders without "[codegen id : N]"
    # markers (they appear once stages finalize), so absence of codegen
    # under AQE is indeterminate, not a finding — only flag plans that
    # are codegen-free WITHOUT the AQE wrapper (pure mapInPandas /
    # Python-UDF pipelines, exotic operators).
    if not s["whole_stage_codegen"] and "AdaptiveSparkPlan" not in text:
        findings.append(
            "INFO: no whole-stage codegen span in the plan — the query runs "
            "interpreted (Python UDF / exotic operator on the hot path?); "
            "prefer built-in Column expressions or Arrow-batched pandas "
            "UDFs."
        )
    return findings
