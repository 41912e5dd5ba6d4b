"""Physical-plan inspection helpers.

Executable form of the scale checklist: is the filter pushed to the
parquet scan, is the small side broadcast, how many exchanges does the
plan pay? Tests assert on these so plan regressions fail CI, not a
100 TB run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode  # noqa: SLF001
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def scan_schema_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per scan — column-pruning check."""
    text = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


# --- text-based forms: the single source of truth for the plan regexes
# (tools/plan_audit.py audits many metrics off ONE explain string — these
# take the text so the formatted-mode parsing never forks between the
# test helpers and the audit tool) ---------------------------------------

# formatted mode prints every operator twice (tree + "(n) Op" detail
# header); counting detail headers counts each node exactly once
_ARROW_OPS = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandasWithState",  # longest first: alternation order
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "MapInPandas",
)
_ARROW_RE = re.compile(r"\(\d+\) (?:%s)\b" % "|".join(_ARROW_OPS))


def shuffle_count_text(text: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", text))


def codegen_spans_text(text: str) -> int:
    """Formatted mode annotates member operators with ``[codegen id : N]``
    (the ``WholeStageCodegen (N)`` header only appears in simple mode)."""
    return len(set(re.findall(r"\[codegen id : (\d+)\]", text)))


def arrow_stage_count_text(text: str) -> int:
    """Number of Arrow-vectorized Python operators (the sanctioned
    Pandas-UDF slow path) — detail headers only, so each node counts
    once."""
    return len(_ARROW_RE.findall(text))


def global_window_count_text(text: str) -> int:
    """Number of Window nodes with an EMPTY partition spec — the
    single-task global sort Spark warns about ("Moving all data to a
    single partition"). Formatted mode prints an ordered partitioned
    window's Arguments as ``[exprs], [partitionSpec], [orderSpec]``
    (three top-level bracket groups); two groups is ambiguous — either
    a GLOBAL ordered window (``[exprs], [orderSpec]``) or a partitioned
    unordered one (``[exprs], [partitionSpec]``) — disambiguated by the
    sort-direction markers only order specs carry. Acceptable ONLY over
    aggregate- or value-domain-sized inputs (month tables, value
    histograms) — never over a fact table; tests pin the per-query
    baseline."""
    count = 0
    lines = text.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"\(\d+\) Window(InPandas)?\b", line.strip()):
            continue
        for j in range(i + 1, min(i + 4, len(lines))):
            arg = lines[j].strip()
            if arg.startswith("Arguments: "):
                groups: list[str] = []
                depth = 0
                start = -1
                for pos, ch in enumerate(arg):
                    if ch == "[":
                        if depth == 0:
                            start = pos
                        depth += 1
                    elif ch == "]":
                        depth -= 1
                        if depth == 0:
                            groups.append(arg[start : pos + 1])
                if len(groups) == 2 and re.search(r" (ASC|DESC) ", groups[-1]):
                    count += 1
                break
    return count


def shuffle_count(df: DataFrame) -> int:
    """Number of distinct Exchange operators (shuffles) in the physical
    plan (formatted mode: one "(n) Exchange" detail header per node;
    ReusedExchange intentionally not counted — it pays no new shuffle)."""
    return shuffle_count_text(explain_str(df))
