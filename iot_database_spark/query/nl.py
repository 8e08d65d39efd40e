"""The natural-language FIND dialect, compiled to DataFrame plans.

Reference grammar (regex-parsed in Iot.Database/Queries/QueryEngine.cs:285-375,
QueryEngine2.cs:135-262, QueryEngine3.cs:150-308):

    FIND <t1>[, <t2>[, <t3>]]
        [ON <join1> [AND <join2>]]
        [WHERE <cond>[ AND <cond2>[ AND <cond3>]]]
        [SELECT <cols>]
        [INCLUDE <t> [WHERE <cond>] [SELECT <cols>]]...
        [JOIN [as <name>] SELECT <cols>]
        [ORDER BY <field> [ASC|DESC]]
        [LIMIT <n>]

Condition operators (BuildPredicate — QueryEngine.cs:388-578):
    >= <= != = > < contains startswith endswith
    not contains / not startswith / not endswith
    is null / is not null / is empty
String comparisons are case-insensitive (OrdinalIgnoreCase), matching the
reference. Connectors AND/OR combine LEFT-TO-RIGHT with no precedence
(QueryEngine.cs:556-571) — documented divergence from SQL.

Execution differences from the reference (deliberate — SURVEY.md §3.3):
- the reference loads FindAll() and filters client-side; we compile to
  DataFrame filters that push down to the scan.
- the reference's flatten-join caps at 2 related rows per parent
  (QueryEngine.cs:887-935, a quirk); we run a true inner join.
- multi-table joins are real Spark joins (broadcast/shuffle by Catalyst),
  not nested loops.
- ON inference when omitted uses FK metadata `<child>.<Parent>Id =
  <parent>.Id` (QueryEngine2.cs:248-259, QueryEngine3.cs:271-305).

The INCLUDE result keeps the reference's nested shape: each related table
contributes a `<table>_Data` array of structs per primary row
(QueryEngine.cs:685-689, :751-799).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# spec
# ---------------------------------------------------------------------------


@dataclass
class IncludeSpec:
    table: str
    condition: str = ""
    columns: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class FindSpec:
    tables: list[str]
    on: list[str] = field(default_factory=list)
    conditions: list[str] = field(default_factory=list)  # one per table
    columns: list[list[tuple[str, str]]] = field(default_factory=list)
    includes: list[IncludeSpec] = field(default_factory=list)
    order_by: tuple[str, bool] | None = None  # (field, ascending)
    limit: int | None = None
    flatten_join: str | None = None  # alias for the JOIN...SELECT command
    join_select: list[tuple[str, str]] = field(default_factory=list)


# top-level split only — WHERE/SELECT/ON stay inside the FIND head and
# INCLUDE bodies (reference: Regex.Split on INCLUDE|JOIN|ORDER BY|LIMIT,
# QueryEngine.cs:296)
_CLAUSE_SPLIT = re.compile(r"\s+(INCLUDE|JOIN|ORDER BY|LIMIT)\s+", re.IGNORECASE)

_HEAD = re.compile(
    r"FIND\s+(\w+(?:\s*,\s*\w+){0,2})"
    r"(?:\s+ON\s+(.+?))?"
    r"(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+SELECT\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_columns(spec: str) -> list[tuple[str, str]]:
    """'Name as Person, Age' -> [(Name, Person), (Age, Age)]
    (QueryUtils.ParseColumns — QueryEngine.cs:1031-1056)."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        m = re.match(r"(\w+)(?:\s+as\s+(\w+))?$", part, re.IGNORECASE)
        if not m:
            raise ValueError(f"invalid column spec: {part!r}")
        out.append((m.group(1), m.group(2) or m.group(1)))
    return out


def parse_find(query: str) -> FindSpec:
    """Parse a FIND query string into a FindSpec."""
    query = query.strip()
    parts = _CLAUSE_SPLIT.split(query)
    head = parts[0].strip()
    m = _HEAD.match(head)
    if not m:
        raise ValueError(
            "invalid query: expected FIND <table>[, <table2>[, <table3>]] "
            "[ON <join>] [WHERE <cond>] [SELECT <cols>]"
        )
    tables = [t.strip() for t in m.group(1).split(",")]
    spec = FindSpec(tables=tables, columns=[[] for _ in tables])

    if m.group(2):
        spec.on = [
            c.strip()
            for c in re.split(r"\s+AND\s+", m.group(2).strip(), flags=re.IGNORECASE)
        ]
    if m.group(3):
        where = m.group(3).strip()
        if len(tables) == 1:
            spec.conditions = [where]
        else:
            # dual/triple: WHERE <c1> AND <c2>[ AND <c3>] — one condition
            # per table, split at top level; surplus AND-terms fold into
            # the last table's condition (reference regex splits at the
            # first AND only — QueryEngine2.cs:176-184)
            conds = [c for c, _ in _split_top_level(where, ("AND",))]
            if len(conds) > len(tables):
                head_conds = conds[: len(tables) - 1]
                tail = " AND ".join(conds[len(tables) - 1 :])
                conds = head_conds + [tail]
            spec.conditions = conds
    if m.group(4):
        body = m.group(4).strip()
        if len(tables) == 1:
            spec.columns[0] = _parse_columns(body)
        else:
            # one comma-separated column per table (QueryEngine2.cs:186-195)
            cols = [p.strip() for p in body.split(",")]
            for t_idx in range(len(tables)):
                if t_idx < len(cols):
                    spec.columns[t_idx] = _parse_columns(cols[t_idx])

    i = 1
    while i < len(parts):
        kw = parts[i].upper()
        body = parts[i + 1].strip()
        if kw == "INCLUDE":
            im = re.match(
                r"(\w+)(?:\s+WHERE\s+(.+?))?(?:\s+SELECT\s+(.+))?$",
                body,
                re.IGNORECASE | re.DOTALL,
            )
            if not im:
                raise ValueError(f"invalid INCLUDE: {body!r}")
            spec.includes.append(
                IncludeSpec(
                    table=im.group(1),
                    condition=(im.group(2) or "").strip(),
                    columns=_parse_columns(im.group(3)) if im.group(3) else [],
                )
            )
        elif kw == "JOIN":
            jm = re.match(r"(?:as\s+(.+?)\s+)?select\s+(.+)$", body, re.IGNORECASE)
            if not jm:
                raise ValueError(
                    f"invalid JOIN: {body!r} (expected JOIN [as <name>] SELECT <cols>)"
                )
            spec.flatten_join = (jm.group(1) or "joined").strip()
            spec.join_select = _parse_columns(jm.group(2))
        elif kw == "ORDER BY":
            om = re.match(r"(\w+)\s*(ASC|DESC)?$", body, re.IGNORECASE)
            if not om:
                raise ValueError(f"invalid ORDER BY: {body!r}")
            spec.order_by = (om.group(1), (om.group(2) or "ASC").upper() != "DESC")
        elif kw == "LIMIT":
            spec.limit = int(body)
        i += 2

    if not spec.conditions:
        spec.conditions = [""] * len(tables)
    while len(spec.conditions) < len(tables):
        spec.conditions.append("")
    return spec


# ---------------------------------------------------------------------------
# condition compiler
# ---------------------------------------------------------------------------

_OPS = (
    "is not null",
    "is null",
    "is empty",
    "not startswith",
    "not endswith",
    "not contains",
    "startswith",
    "endswith",
    "contains",
    ">=",
    "<=",
    "!=",
    "=",
    ">",
    "<",
)


def _split_top_level(s: str, connectors: tuple[str, ...]) -> list[tuple[str, str]]:
    """Split on top-level AND/OR, quote- and paren-aware
    (SplitConditions — QueryEngine.cs:581-643). Returns
    [(condition, connector_before_it)] with '' for the first."""
    out: list[tuple[str, str]] = []
    cur, conn = "", ""
    depth, quote = 0, None
    i = 0
    while i < len(s):
        c = s[i]
        if quote:
            cur += c
            if c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"":
            quote = c
            cur += c
            i += 1
            continue
        if c == "(":
            depth += 1
            cur += c
            i += 1
            continue
        if c == ")":
            depth -= 1
            cur += c
            i += 1
            continue
        if depth == 0:
            matched = False
            for kw in connectors:
                token = f" {kw} "
                if s[i : i + len(token)].upper() == token.upper():
                    out.append((cur.strip(), conn))
                    conn = kw.upper()
                    cur = ""
                    i += len(token)
                    matched = True
                    break
            if matched:
                continue
        cur += c
        i += 1
    if cur.strip():
        out.append((cur.strip(), conn))
    return out


def _parse_value(raw: str) -> object:
    raw = raw.strip()
    if len(raw) >= 2 and raw[0] in "'\"" and raw[-1] == raw[0]:
        return raw[1:-1]
    low = raw.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        pass
    return raw  # bare word -> string


def compile_condition(cond: str, df: DataFrame) -> Column:
    """Compile a WHERE condition string into a boolean Column.

    String ops are case-insensitive (the reference's OrdinalIgnoreCase);
    AND/OR combine left-to-right without precedence (reference parity).
    """
    if not cond or not cond.strip():
        return F.lit(True)
    parts = _split_top_level(cond, ("AND", "OR"))
    result: Column | None = None
    for text, conn in parts:
        if text.startswith("(") and text.endswith(")"):
            term = compile_condition(text[1:-1], df)
        else:
            term = _compile_comparison(text, df)
        if result is None:
            result = term
        elif conn == "AND":
            result = result & term
        else:
            result = result | term
    assert result is not None
    return result


_STRING_TYPES = ("string",)


def _compile_comparison(text: str, df: DataFrame) -> Column:
    m = re.match(
        r"(\w+)\s*(" + "|".join(re.escape(o) for o in _OPS) + r")(?:\s*(.+))?$",
        text.strip(),
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"invalid condition: {text!r}")
    prop, op, raw_val = m.group(1), m.group(2).lower(), m.group(3)

    # case-insensitive property resolution (reference uses IgnoreCase
    # property binding — QueryEngine.cs:410-412)
    matches = [c for c in df.columns if c.lower() == prop.lower()]
    if not matches:
        raise ValueError(f"unknown column {prop!r}; have {df.columns}")
    col_name = matches[0]
    col = F.col(col_name)
    dtype = dict(df.dtypes)[col_name]
    is_string = dtype in _STRING_TYPES

    if op == "is null":
        return col.isNull()
    if op == "is not null":
        return col.isNotNull()
    if op == "is empty":
        return col.isNull() | (col.cast("string") == "")

    if raw_val is None:
        raise ValueError(f"operator {op!r} requires a value: {text!r}")
    val = _parse_value(raw_val)

    if is_string:
        lc, lv = F.lower(col), F.lower(F.lit(str(val)))
        table = {
            "contains": lc.contains(lv),
            "not contains": ~lc.contains(lv),
            "startswith": lc.startswith(lv),
            "not startswith": ~lc.startswith(lv),
            "endswith": lc.endswith(lv),
            "not endswith": ~lc.endswith(lv),
            "=": lc == lv,
            "!=": lc != lv,
            ">": col > val,
            "<": col < val,
            ">=": col >= val,
            "<=": col <= val,
        }
        return table[op]

    if op in ("contains", "startswith", "endswith"):
        # reference supports these on non-strings by ToString'ing
        sc = F.lower(col.cast("string"))
        sv = F.lower(F.lit(str(val)))
        return {"contains": sc.contains(sv), "startswith": sc.startswith(sv), "endswith": sc.endswith(sv)}[op]
    table = {
        "=": col == val,
        "!=": col != val,
        ">": col > val,
        "<": col < val,
        ">=": col >= val,
        "<=": col <= val,
    }
    if op not in table:
        raise ValueError(f"operator {op!r} not supported for type {dtype}")
    return table[op]


# ---------------------------------------------------------------------------
# executor
# ---------------------------------------------------------------------------


def _parse_on(on: str) -> tuple[str, str, str, str]:
    """'t2.fk = t1.id' -> (t2, fk, t1, id)"""
    m = re.match(r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$", on.strip())
    if not m:
        raise ValueError(f"invalid ON condition: {on!r}")
    return m.group(1), m.group(2), m.group(3), m.group(4)


def execute_find(
    spec: FindSpec,
    resolver,
) -> DataFrame:
    """Execute a FindSpec.

    `resolver` maps a table name to (DataFrame, fk_metadata) — either an
    IotDatabase or a plain dict {name: DataFrame} (then FK inference needs
    explicit ON clauses).
    """
    def get_df(name: str) -> DataFrame:
        if hasattr(resolver, "table"):
            return resolver.table(name).df
        return resolver[name]

    def infer_on(child: str, parent: str) -> tuple[str, str, str, str]:
        if hasattr(resolver, "infer_fk"):
            fk = resolver.infer_fk(child, parent)
            if fk:
                return (child, fk[0], parent, fk[1])
        raise ValueError(
            f"no FK relationship from {child} to {parent}; specify ON"
        )

    primary_name = spec.tables[0]
    primary = get_df(primary_name)
    primary = primary.filter(compile_condition(spec.conditions[0], primary))

    # multi-table FIND: real joins (the reference nested-loops client-side)
    joined = primary.alias(primary_name)
    for idx, tname in enumerate(spec.tables[1:], start=1):
        t = get_df(tname)
        cond = spec.conditions[idx] if idx < len(spec.conditions) else ""
        t = t.filter(compile_condition(cond, t)).alias(tname)
        on_clause = None
        if len(spec.on) >= idx:
            lt, lc, rt, rc = _parse_on(spec.on[idx - 1])
            on_clause = F.col(f"{lt}.{lc}") == F.col(f"{rt}.{rc}")
        else:
            # FK inference tries every earlier table, nearest first — t3
            # may relate to t2 rather than t1 (QueryEngine3.cs:271-305)
            last_err = None
            for earlier in reversed(spec.tables[:idx]):
                try:
                    ct, cc, pt, pc = infer_on(tname, earlier)
                    on_clause = F.col(f"{ct}.{cc}") == F.col(f"{pt}.{pc}")
                    break
                except ValueError as exc:
                    last_err = exc
            if on_clause is None:
                raise last_err or ValueError(
                    f"no FK relationship found for {tname}; specify ON"
                )
        joined = joined.join(t, on_clause, "inner")

    out = joined

    # INCLUDE: nest related rows as <table>_Data arrays
    # (QueryEngine.cs:729-823); FK: related.<fk> = primary.Id
    for inc in spec.includes:
        rel = get_df(inc.table)
        rel = rel.filter(compile_condition(inc.condition, rel))
        ct, cc, pt, pc = infer_on(inc.table, primary_name)
        if inc.columns:
            # keep the FK join column even if the SELECT pruned it
            rel_proj = rel.select(
                cc, *[F.col(c).alias(a) for c, a in inc.columns if a != cc]
            )
        else:
            rel_proj = rel
        nested = (
            rel_proj.groupBy(cc)
            .agg(
                F.collect_list(
                    F.struct(*[c for c in rel_proj.columns if c != cc])
                ).alias(f"{inc.table}_Data")
            )
        )
        out = out.join(
            nested, F.col(f"{primary_name}.{pc}") == nested[cc], "left"
        ).drop(nested[cc])

    # SELECT projection (primary + secondary tables)
    if any(spec.columns):
        sel: list[Column] = []
        for t_idx, tname in enumerate(spec.tables):
            cols = spec.columns[t_idx] if t_idx < len(spec.columns) else []
            for name, alias in cols:
                sel.append(F.col(f"{tname}.{name}").alias(alias))
        for inc in spec.includes:
            sel.append(F.col(f"{inc.table}_Data"))
        if sel:
            out = out.select(*sel)

    # flatten JOIN...SELECT: explode every <table>_Data array into flat
    # rows, then project the requested columns from primary + related
    # (ParseExecuteCommand — QueryEngine.cs:826-957; the reference caps at
    # 2 related rows per parent, a quirk we deliberately do not replicate)
    if spec.flatten_join is not None:
        for inc in spec.includes:
            data_col = f"{inc.table}_Data"
            out = out.withColumn(
                "_x", F.explode_outer(F.col(data_col))
            ).drop(data_col)
            inner = [f for f in out.schema["_x"].dataType.fieldNames()]
            for fname in inner:
                if fname not in out.columns:
                    out = out.withColumn(fname, F.col(f"_x.{fname}"))
            out = out.drop("_x")
        if spec.join_select:
            sel2 = []
            for name, alias in spec.join_select:
                matches = [c for c in out.columns if c.lower() == name.lower()]
                if not matches:
                    raise ValueError(
                        f"JOIN SELECT column {name!r} not found; have {out.columns}"
                    )
                sel2.append(F.col(matches[0]).alias(alias))
            out = out.select(*sel2)

    if spec.order_by:
        fld, asc = spec.order_by
        matches = [c for c in out.columns if c.lower() == fld.lower()]
        target = matches[0] if matches else fld
        out = out.orderBy(F.col(target).asc() if asc else F.col(target).desc())
    if spec.limit is not None:
        out = out.limit(spec.limit)
    return out


def natural_query(query: str, resolver) -> DataFrame:
    """Parse + execute a FIND query (QueryEngine.NaturalQuery)."""
    return execute_find(parse_find(query), resolver)


def explain_find(query: str, resolver) -> dict:
    """EXPLAIN for the FIND dialect — the reference's EXPLAIN yields a
    plan document (QueryPlan.GetExecutionPlan — LiteDB/Engine/Query/
    Structures/QueryPlan.cs:139-211). Ours returns the parsed logical
    spec plus the Catalyst physical plan of the compiled DataFrame."""
    spec = parse_find(query)
    df = execute_find(spec, resolver)
    from iot_database_spark.plans.audit import explain_str, plan_report

    return {
        "tables": spec.tables,
        "on": spec.on,
        "conditions": spec.conditions,
        "columns": spec.columns,
        "includes": [
            {"table": i.table, "condition": i.condition, "columns": i.columns}
            for i in spec.includes
        ],
        "order_by": spec.order_by,
        "limit": spec.limit,
        "physical_plan": explain_str(df, "simple"),
        "plan_report": plan_report(df),
    }
