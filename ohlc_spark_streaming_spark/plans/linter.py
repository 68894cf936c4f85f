"""Physical-plan linter: flags the patterns that break at 100 TB.

PySpark can't inject Catalyst rules without a JVM extension jar, and none
are needed for this engine (SURVEY §4.3) — but plans can still silently
regress (a join flips to cartesian, a filter stops reaching the scan, an
unbounded collect_list sneaks into an aggregate). The linter inspects the
executed plan and reports scale hazards; CI asserts the registry's
headline queries stay clean (tests/test_registry_oracle.py).

Each finding is ``(severity, code, message)``; severity is ``error`` for
certain scale-breakers and ``info`` for patterns that are fine in bounded
shapes. Codes:

* ``CARTESIAN``      (error) — CartesianProduct: both sides unbounded.
* ``NL_BROADCAST``   (info)  — BroadcastNestedLoopJoin: bounded by the
                       broadcast side; legitimate for scalar attachment
                       (crossJoin of a 1-row aggregate), a hazard if the
                       broadcast side is a real table.
* ``COLLECT_LIST``   (error) — unbounded per-group buffers in an aggregate
                       (the reference's open/close bug, main.py:153-158).
* ``FULL_SCAN``      (error) — parquet scan reads 15+ columns: projection
                       likely not pruned.
* ``NO_PARTIAL_AGG`` (info)  — aggregation without a partial (map-side)
                       phase.
* ``ROW_PYTHON``     (error) — row-at-a-time Python eval (BatchEvalPython);
                       Arrow variants are fine.
* ``GLOBAL_WINDOW``  (info)  — a Window fed by Exchange SinglePartition:
                       every input row crosses one task. Benign when the
                       input is provably tiny (an O(#partitions) totals
                       table, a top-k limit); a scale-killer when it is
                       the corpus — use operators.ranking's distributed
                       rank instead.

``lint_hints`` (analyzed LOGICAL plan) targets the one plan hazard the
physical string can't attribute: HARD ``F.broadcast`` hints. A hint
overrides AQE's size threshold, so a hint on anything data-proportional
is invisible at sf0.1 and an executor OOM at 100× (VERDICT r5). Codes:

* ``BROADCAST_UNFILTERED`` (error) — a broadcast hint over an UNFILTERED
                       base relation other than the bounded dims
                       (nation/region). customer/supplier/part grow with
                       SF; drop the hint and let AQE pick by measured size.
* ``BROADCAST_ENTITY_AGG`` (error) — a broadcast hint over an aggregate
                       grouped by an unbounded entity key (user_id,
                       *custkey, *partkey, *suppkey, *orderkey, doc_id,
                       term, tok*): the build side is entity-count-
                       proportional. Grouping by a bounded enum (symbol,
                       event_type, bucket) is fine and not flagged.
* ``BROADCAST_FILTERED`` (info) — a broadcast hint over a FILTERED
                       SF-proportional relation: legitimate when the
                       predicate is genuinely selective (an eval set, a
                       single brand), still SF-proportional when it is a
                       constant fraction — review, don't auto-fail.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def lint_output_schema(df: DataFrame) -> list[tuple[str, str, str]]:
    """Driver-compat lint: an oracle-backed query's FINAL schema must not
    expose top-level array/map/struct columns.

    The correctness driver canonicalizes results by pandas-sorting raw
    column values before hashing; an ``array<...>`` column arrives as
    numpy arrays, which are unhashable, so the check aborts with
    ``TypeError`` before comparing anything (round-8 driver red on
    ``token_id_encode``). The local oracle replica stringifies rows first
    (tests/oracle_utils.py) and never catches it — hence this structural
    gate. Project nested values through ``array_join`` / ``to_json`` /
    explode before returning.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    findings: list[tuple[str, str, str]] = []
    for field in df.schema.fields:
        if isinstance(field.dataType, (ArrayType, MapType, StructType)):
            findings.append(
                (
                    "error",
                    "NESTED_OUTPUT",
                    f"top-level {field.dataType.simpleString()} column "
                    f"'{field.name}' in final schema — the driver "
                    "canonicalizer cannot hash it; stringify or explode",
                )
            )
    return findings


def lint_plan(df: DataFrame) -> list[tuple[str, str, str]]:
    plan = plan_string(df)
    findings: list[tuple[str, str, str]] = []

    if "CartesianProduct" in plan:
        findings.append(
            (
                "error",
                "CARTESIAN",
                "cartesian join: O(left x right) comparisons with neither "
                "side bounded — add an equi key (bucketize a band predicate "
                "if needed)",
            )
        )
    elif "BroadcastNestedLoopJoin" in plan:
        findings.append(
            (
                "info",
                "NL_BROADCAST",
                "nested-loop join bounded by a broadcast side — fine for "
                "scalar attachment; a hazard if the broadcast side is a "
                "full table",
            )
        )

    if re.search(r"\bcollect_list\(", plan) or re.search(r"\bcollect_set\(", plan):
        findings.append(
            (
                "error",
                "COLLECT_LIST",
                "unbounded per-group buffer in aggregate: state grows with "
                "group size — prefer min_by/max_by/struct-extrema or an "
                "explicit bounded slice",
            )
        )

    # Line-bounded on purpose: executedPlan().toString() TRUNCATES a long
    # ReadSchema without its closing '>', so a multi-line match would lump
    # several scans' schemas into one bogus count ("... N more fields"
    # stays on the scan's own line and is parsed below).
    for m in re.finditer(r"ReadSchema: struct<([^\n>]*)>?", plan):
        frag = m.group(1)
        n_cols = frag.count(",") + 1 if frag else 0
        more = re.search(r"(\d+) more fields", frag)
        if more:
            n_cols += int(more.group(1))
        if n_cols >= 15:
            findings.append(
                (
                    "error",
                    "FULL_SCAN",
                    f"parquet scan reads {n_cols} columns — column pruning "
                    "is probably not reaching this scan",
                )
            )
            break

    has_agg = re.search(r"(HashAggregate|SortAggregate|ObjectHashAggregate)", plan)
    if has_agg and not re.search(r"partial_", plan):
        findings.append(
            (
                "info",
                "NO_PARTIAL_AGG",
                "aggregation without a partial (map-side) phase — every row "
                "crosses the shuffle; check for distinct-on-expression or "
                "non-partial-able aggregates",
            )
        )

    if "Window" in plan and "Exchange SinglePartition" in plan:
        findings.append(
            (
                "info",
                "GLOBAL_WINDOW",
                "window over a single partition — fine for tiny inputs "
                "(per-partition totals, post-limit top-k), a scale-killer "
                "over the corpus; prefer operators.ranking.with_global_rank",
            )
        )

    if "BatchEvalPython" in plan:
        findings.append(
            (
                "error",
                "ROW_PYTHON",
                "row-at-a-time Python UDF on the path — use built-in "
                "expressions or an Arrow-batched pandas UDF",
            )
        )

    return findings


#: Leading column prefixes of the two genuinely bounded dimension tables
#: (25 nations, 5 regions regardless of SF) — the only base relations a
#: hard broadcast hint may cover unfiltered.
_BOUNDED_ATTR_PREFIXES = ("n_", "r_")

#: Grouping-key names that identify an UNBOUNDED entity: one group per
#: user / customer / part / supplier / order / document / token. Bounded
#: enums (symbol, event_type, status, bucket) are deliberately absent.
_ENTITY_KEY_RE = re.compile(
    r"(^user_id$|^doc_id$|^term$|^tok(_[ab])?$|custkey|partkey|suppkey|orderkey)",
    re.IGNORECASE,
)


def _jiter(seq):
    """Iterate a Scala Seq through py4j."""
    for i in range(seq.size()):
        yield seq.apply(i)


def _subtree(node):
    yield node
    for child in _jiter(node.children()):
        yield from _subtree(child)


def _key_names(exprs) -> list[str]:
    return [
        e.toString().split("#")[0].split(".")[-1].strip("'`")
        for e in _jiter(exprs)
    ]


#: Classification lattice for a broadcast build side, worst-first.
_SEVERITY_ORDER = (
    "unfiltered",  # raw SF-proportional table → error
    "entity_agg",  # one row per unbounded entity → error
    "filtered",  # filtered SF-proportional table → info (review)
    "distinct",  # vocab-style distinct → documented sub-linear, ok
    "bounded",  # nation/region, 1-row agg, enum-keyed agg, limit, local
)


def _classify_build(node) -> tuple[str, str]:
    """Classify a broadcast build side by its TOPMOST cardinality-
    determining node: a keyless aggregate or a LIMIT bounds the subtree
    no matter what runs below it; an aggregate/distinct keyed by an
    unbounded entity is entity-proportional; a bare (possibly filtered)
    relation is whatever the relation is. Returns (class, detail)."""
    nn = node.nodeName()
    if nn == "Aggregate":
        keys = _key_names(node.groupingExpressions())
        if not keys:
            return "bounded", "1-row aggregate"
        entity = [k for k in keys if _ENTITY_KEY_RE.search(k)]
        if entity:
            return "entity_agg", f"aggregate grouped by {entity}"
        return "bounded", f"aggregate grouped by bounded keys {keys}"
    if nn == "Deduplicate":
        keys = _key_names(node.keys())
        entity = [k for k in keys if _ENTITY_KEY_RE.search(k)]
        if entity:
            return "entity_agg", f"distinct over {entity}"
        return "distinct", f"distinct over {keys}"
    if nn in ("GlobalLimit", "LocalLimit", "LocalRelation", "OneRowRelation"):
        return "bounded", nn
    if nn == "LogicalRelation":
        out = node.output()
        first = out.apply(0).name() if out.size() else ""
        if first.startswith(_BOUNDED_ATTR_PREFIXES):
            return "bounded", f"bounded dim ('{first}')"
        return "unfiltered", f"base table carrying '{first}'"
    # Filter bounds nothing by itself but downgrades an unfiltered
    # relation below it to "review" severity.
    children = list(_jiter(node.children()))
    if not children:
        return "bounded", nn
    results = [_classify_build(c) for c in children]
    if nn == "Filter":
        results = [
            ("filtered", d) if cls == "unfiltered" else (cls, d)
            for cls, d in results
        ]
    # Pass-through nodes (Project, Generate, Window, Join, Union, ...):
    # the subtree is as hazardous as its worst child.
    return min(results, key=lambda r: _SEVERITY_ORDER.index(r[0]))


def lint_hints(df: DataFrame) -> list[tuple[str, str, str]]:
    """Flag hard broadcast hints whose build side is data-proportional
    (an unfiltered non-dim base table, or a per-entity aggregate) in the
    ANALYZED logical plan, where ``ResolvedHint`` nodes are still intact
    (the optimizer folds them into the join node)."""
    findings: list[tuple[str, str, str]] = []
    analyzed = df._jdf.queryExecution().analyzed()
    for node in _subtree(analyzed):
        if node.nodeName() != "ResolvedHint":
            continue
        if "broadcast" not in node.hints().toString().lower():
            continue
        cls, detail = _classify_build(node.children().apply(0))
        if cls == "unfiltered":
            findings.append(
                (
                    "error",
                    "BROADCAST_UNFILTERED",
                    f"broadcast hint over the unfiltered {detail} — "
                    "SF-proportional build side OOMs at 100x; drop the "
                    "hint and let AQE size it",
                )
            )
        elif cls == "entity_agg":
            findings.append(
                (
                    "error",
                    "BROADCAST_ENTITY_AGG",
                    f"broadcast hint over an {detail} — one row per "
                    "entity, unbounded at scale; drop the hint (AQE) "
                    "or co-partition",
                )
            )
        elif cls == "filtered":
            findings.append(
                (
                    "info",
                    "BROADCAST_FILTERED",
                    f"broadcast hint over a filtered relation ({detail}) "
                    "— fine if the predicate is truly selective, "
                    "SF-proportional if it keeps a constant fraction",
                )
            )
    return findings
