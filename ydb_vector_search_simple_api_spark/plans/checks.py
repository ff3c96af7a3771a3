"""Physical-plan inspection helpers.

The scale contract of this engine is enforced in tests, not prose:
top-k must compile to ``TakeOrderedAndProject`` (per-partition heap,
no global sort), equality filters must reach the Parquet scan as
``PushedFilters``, small joins must be broadcast, and hot expressions
must stay inside whole-stage codegen. These helpers read
``explain("formatted")`` output so tests can assert the plan shape —
the thing that actually survives a 100x scale-up.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in simple_plan(df)


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """Concatenated PushedFilters sections of every scan in the plan."""
    out = []
    for line in formatted_plan(df).splitlines():
        if "PushedFilters" in line:
            out.append(line.strip())
    return "\n".join(out)


def broadcast_subtree_details(df: DataFrame) -> list[str]:
    """One string per ``BroadcastExchange`` in the plan: the
    concatenated formatted-plan detail blocks of every operator in that
    exchange's subtree (the BUILD side of the broadcast join).

    ``uses_broadcast_join`` says only that *a* broadcast happened;
    scale correctness needs the build side to be the small relation.
    Tests grep the returned subtrees for scan Locations / ReadSchema
    to assert WHICH relation is being shipped to every executor."""
    plan = formatted_plan(df)
    lines = plan.splitlines()
    # the formatted plan = ASCII tree, blank line, then "(N) Node"
    # detail blocks (possibly followed by further sections)
    try:
        cut = lines.index("")
    except ValueError:
        cut = len(lines)
    tree, rest = lines[:cut], lines[cut:]

    details: dict[int, str] = {}
    cur: int | None = None
    buf: list[str] = []
    for ln in rest:
        m = re.match(r"^\((\d+)\)\s", ln)
        if m:
            if cur is not None:
                details[cur] = "\n".join(buf)
            cur, buf = int(m.group(1)), [ln]
        elif cur is not None:
            buf.append(ln)
    if cur is not None:
        details[cur] = "\n".join(buf)

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    def node_id(ln: str) -> int | None:
        m = re.search(r"\((\d+)\)\s*$", ln)
        return int(m.group(1)) if m else None

    out: list[str] = []
    for i, ln in enumerate(tree):
        if "BroadcastExchange" not in ln:
            continue
        d = depth(ln)
        ids = [j for j in [node_id(ln)] if j is not None]
        for sub in tree[i + 1 :]:
            if depth(sub) <= d:
                break
            j = node_id(sub)
            if j is not None:
                ids.append(j)
        out.append("\n".join(details.get(j, "") for j in ids))
    return out


def broadcast_scan_blocks(df: DataFrame, location_fragment: str) -> list[str]:
    """Detail blocks of file scans living UNDER a BroadcastExchange
    whose scan Location matches ``location_fragment`` — i.e. relations
    that get shipped to every executor as a broadcast build side.

    The serving contract tests use this to assert the wide corpus
    metadata scan (the one reading the title column) is never a
    broadcast build input, while the k-row top-k side is."""
    blocks: list[str] = []
    for sub in broadcast_subtree_details(df):
        for block in re.split(r"\n(?=\(\d+\) )", sub):
            if "Scan" in block.splitlines()[0] and location_fragment in block:
                blocks.append(block)
    return blocks


def partition_filters(df: DataFrame) -> str:
    out = []
    for line in formatted_plan(df).splitlines():
        if "PartitionFilters" in line:
            out.append(line.strip())
    return "\n".join(out)
