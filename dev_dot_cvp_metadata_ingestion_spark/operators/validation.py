"""Rule compiler: declarative rules → Spark SQL expression text (SURVEY §2.2).

The reference validates each record by interpreting every rule per row
(odevalidator/validator.py:294-302, 391-406). Here rules compile ONCE,
driver-side and in pure Python, into the SQL text of one array of
validation-verdict structs. That text crosses to the JVM in a single
``selectExpr`` — one parse instead of one py4j round trip per Column
node — and runs whole-stage-codegen'd by Tungsten, no Python on the hot
path. One explode turns the wide verdicts into the long results table
(file, record id, field_path, valid, details).

Every INI value that reaches the SQL text goes through :func:`_lit`
(string literals, with ``$`` escaped so the parser's ``${var}``
substitution never fires) or :func:`_ident` (backtick-quoted field
names).

Replicated semantics (reference file:line):

* missing field → "Field missing: <path>"            (validator.py:197-198)
* empty string  → "Field empty" unless AllowEmpty    (validator.py:200-204)
* enum: case-insensitive membership                  (validator.py:206-207)
* decimal: Decimal compare against Upper/LowerLimit; the message
  renders %d-truncated values                        (validator.py:208-215)
* timestamp: parse, then earliest ≤ t ≤ latest+1min  (validator.py:216-229)
* choice: exactly one child path present             (validator.py:230-243)
* serial: no type branch exists — presence/empty only (validator.py:196-243
  vs config_2.ini:92)
* conditional rules: first met non-skip condition wins, skip conditions
  accumulate a sequential-skip set, no met condition → unconditional
  check                                              (validator.py:96-170)
* scalar EqualsValue (e.g. ``= 6``) short-circuits the whole rule to
  valid (non-Iterable → None, validator.py:99, 129) — replicated via
  Rule.conditions=None + noop detection in parse; here: a rule whose
  EqualsValue was scalar validates nothing.

Documented deviations (reference bugs not copied, SURVEY §7.5):
* choice count>1 message is well-formed here ("Found 'N' choices in
  '<path>'"); the reference raises a TypeError it then swallows
  (validator.py:241).
* parse-failure messages omit the Python exception text (engine-neutral).
* timestamp values in messages are rendered Python-style
  ("YYYY-MM-DD HH:MM:SS[.ffffff]", microseconds omitted when zero).
"""

from __future__ import annotations

import math
import re
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.rules import (
    Rule,
    RuleSet,
    TYPE_CHOICE,
    TYPE_DECIMAL,
    TYPE_ENUM,
    TYPE_TIMESTAMP,
)

_IDX_RE = re.compile(r"^([^{]*)\{(\d+)\}$")

_DEC = "DECIMAL(38,10)"


# ------------------------------------------------------------ SQL text


def _lit(value) -> str:
    """SQL string literal for ``str(value)``. Backslash and quote are
    escaped for the parser; ``$`` becomes ``\\u0024`` so that the
    parser's variable substitution cannot rewrite a ``${...}`` inside
    rule text."""
    s = str(value).replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{s}'"


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _ts_lit(ts: datetime) -> str:
    """Timestamp literal with the instant ``F.lit(ts)`` would carry: an
    aware datetime is absolute, a naive one is read in the Python
    process's local zone (TimestampType.toInternal)."""
    return f"timestamp_micros({TimestampType().toInternal(ts)})"


def _num_lit(v) -> str:
    """Literal for a JSON number (or bool) with the type ``F.lit(v)``
    gives it: boolean, integral, or double."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST({_lit(v)} AS DOUBLE)"


def _in(expr: str, items: list[str]) -> str:
    # an empty IN list is false, NULL operand included (Column.isin([]))
    if not items:
        return "false"
    return f"({expr} IN ({', '.join(items)}))"


def _case(branches: list[tuple[str, str]], otherwise: str | None = None) -> str:
    body = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    tail = "" if otherwise is None else f" ELSE {otherwise}"
    return f"CASE {body}{tail} END"


def _str(expr: str) -> str:
    return f"CAST({expr} AS STRING)"


# ---------------------------------------------------------------- paths


def schema_type(schema: DataType, path: str) -> DataType | None:
    """Resolve a dotted path (with optional ``{i}`` indexes) against a
    schema; None when the path doesn't exist (→ NULL per
    validator.py:191-193)."""
    cur = schema
    for seg in path.split("."):
        m = _IDX_RE.match(seg)
        name = m.group(1) if m else seg
        if not isinstance(cur, StructType) or name not in cur.fieldNames():
            return None
        cur = cur[name].dataType
        if m:
            if not isinstance(cur, ArrayType):
                return None
            cur = cur.elementType
    return cur


def field_sql(schema: DataType, path: str) -> str:
    """SQL for a dotted path; missing paths become NULL (native Spark
    semantics already match validator.py:191-193)."""
    if schema_type(schema, path) is None:
        return "NULL"
    out = ""
    for seg in path.split("."):
        m = _IDX_RE.match(seg)
        name = _ident(m.group(1) if m else seg)
        out = name if not out else f"{out}.{name}"
        if m:
            out = f"element_at({out}, {int(m.group(2)) + 1})"
    return out


# ------------------------------------------------------------- helpers


def _py_ts_str(ts: str) -> str:
    """Render a timestamp the way Python ``str(datetime)`` does:
    microseconds omitted when zero (deterministic, oracle-expressible)."""
    return _case(
        [(f"date_format({ts}, 'SSSSSS') = '000000'",
          f"date_format({ts}, 'yyyy-MM-dd HH:mm:ss')")],
        f"date_format({ts}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')",
    )


def _falsy(col: str, dtype: DataType | None) -> str:
    """Python truthiness test used by _is_condition_met (validator.py:137)."""
    if dtype is None:
        return "true"
    if isinstance(dtype, StringType):
        return f"({col} IS NULL OR {col} = '')"
    if isinstance(dtype, NumericType):
        return f"({col} IS NULL OR {col} = 0)"
    return f"({col} IS NULL)"


# ------------------------------------------------- unconditional check


def _type_check_details(rule: Rule, col: str, dtype: DataType) -> str:
    """Details for the type-specific branch (validator.py:205-243);
    NULL means valid."""
    if rule.type == TYPE_ENUM and rule.values is not None:
        lowered = [_lit(v.lower()) for v in rule.values]
        joined = ", ".join(str(v) for v in rule.values)
        return _case([(
            f"(NOT {_in(f'lower({_str(col)})', lowered)})",
            "format_string('Value \\'%s\\' not in list of known values: [%s]', "
            f"{_str(col)}, {_lit(joined)})",
        )])
    if rule.type == TYPE_DECIMAL:
        if rule.upper_limit is None and rule.lower_limit is None:
            # the reference only attempts the Decimal parse when a
            # limit is declared (validator.py:210-215); a limit-less
            # decimal rule passes any present non-empty value
            return "NULL"
        # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW
        # on malformed input; the reference treats parse failure as an
        # invalid-field verdict (validator.py:214-215)
        v = f"TRY_CAST({col} AS {_DEC})"
        branches = [(
            f"({v} IS NULL)",  # non-null input that won't cast
            f"format_string('failure to perform decimal validation on %s', {_str(col)})",
        )]
        for limit, op, word in (
            (rule.upper_limit, ">", "greater than upper"),
            (rule.lower_limit, "<", "less than lower"),
        ):
            if limit is not None:
                branches.append((
                    f"({v} {op} CAST({format(limit, 'f')}BD AS {_DEC}))",
                    f"format_string('Value \\'%d\\' is {word} limit \\'%d\\'', "
                    f"CAST({v} AS BIGINT), {int(limit)})",
                ))
        return _case(branches)
    if rule.type == TYPE_TIMESTAMP:
        if isinstance(dtype, TimestampType):
            t, parse_fail = col, "false"
        else:
            t = _parse_ts(col, rule.date_format)
            parse_fail = f"({t} IS NULL)"
        branches = [(parse_fail, "'failure to perform timestamp validation'")]
        for limit, op, slack, word in (
            (rule.earliest_time, "<", timedelta(0), "before earliest"),
            # +1 minute slack on the upper bound (validator.py:226)
            (rule.latest_time, ">", timedelta(minutes=1), "after latest"),
        ):
            if limit is not None:
                branches.append((
                    f"({t} {op} {_ts_lit(limit + slack)})",
                    f"format_string('Timestamp value \\'%s\\' occurs {word} "
                    f"limit \\'%s\\'', {_py_ts_str(t)}, {_lit(limit)})",
                ))
        return _case(branches)
    # string / serial / unknown: presence+empty already checked
    return "NULL"


def _parse_ts(col: str, date_format: str | None) -> str:
    """String → timestamp. Without DateFormat the reference uses lenient
    dateutil parsing (validator.py:219) — approximated with a coalesce
    over common ISO shapes; with DateFormat, strptime (validator.py:221)
    mapped to the Spark pattern dialect."""
    if date_format:
        return f"try_to_timestamp({col}, {_lit(_strptime_to_spark(date_format))})"
    c = f"regexp_replace({col}, {_lit('Z$')}, '+00:00')"
    return "coalesce(" + ", ".join(
        f"try_to_timestamp({c}, {_lit(p)})"
        for p in (
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
            "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
            "yyyy-MM-dd'T'HH:mm:ssXXX",
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
            "yyyy-MM-dd'T'HH:mm:ss.SSS",
            "yyyy-MM-dd'T'HH:mm:ss",
            "yyyy-MM-dd HH:mm:ss.SSSSSS",
            "yyyy-MM-dd HH:mm:ss",
            "yyyy-MM-dd",
        )
    ) + ")"


_STRPTIME_MAP = {
    "Y": "yyyy",
    "m": "MM",
    "d": "dd",
    "H": "HH",
    "M": "mm",
    "S": "ss",
    "f": "SSSSSS",
    "z": "XXX",
    "j": "DDD",
    "y": "yy",
    "%": "%",
}


def _strptime_to_spark(fmt: str) -> str:
    """Python strptime directives → Spark datetime pattern, with
    non-directive letters quoted (unquoted 'T'/'Z' would be pattern
    letters in Spark)."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            d = fmt[i + 1]
            out.append(_STRPTIME_MAP.get(d, d))
            i += 2
        elif ch.isalpha():
            out.append(f"'{ch}'")
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _unconditional_details(
    rule: Rule, schema: DataType, path_label: str | None = None
) -> str:
    """Full _check_unconditional chain (validator.py:196-243); NULL = valid.

    ``path_label`` (SQL) overrides the path rendered into the
    missing-field message — list rules pass the per-row expanded
    ``a{i}.b`` path the reference's Field carries (validator.py:314,
    197-198)."""
    col = field_sql(schema, rule.path)
    dtype = schema_type(schema, rule.path)

    branches = [(
        f"({col} IS NULL)",
        "format_string('Field missing: %s', "
        f"{_lit(rule.path) if path_label is None else path_label})",
    )]
    if isinstance(dtype, StringType):
        branches.append(
            (f"({col} = '')", "NULL" if rule.allow_empty else "'Field empty'")
        )

    if rule.type == TYPE_CHOICE and rule.choices:
        cnt = "(" + " + ".join(
            f"CAST(({field_sql(schema, f'{rule.path}.{c}')} IS NOT NULL) AS INT)"
            for c in rule.choices
        ) + ")"
        choice_details = _case([
            (f"({cnt} = 0)",
             f"format_string('No choices found in \\'%s\\'', {_lit(rule.path)})"),
            (f"({cnt} > 1)",
             "format_string('Found \\'%s\\' choices in \\'%s\\'', "
             f"{_str(cnt)}, {_lit(rule.path)})"),
        ])
        return _case(branches, choice_details)

    type_details = _type_check_details(rule, col, dtype) if dtype else "NULL"
    return _case(branches, type_details)


# --------------------------------------------------- conditional check


def _condition_met(cond: dict, rule: Rule, schema: DataType) -> str:
    """ifPart evaluation (validator.py:131-148)."""
    if_part = cond["ifPart"]
    ref_path = if_part["fieldName"]
    ref_col = field_sql(schema, ref_path)
    ref_type = schema_type(schema, ref_path)
    expected = if_part.get("fieldValues")
    if expected is None:
        # existence-style: met iff referenced AND target both falsy
        target = field_sql(schema, rule.path)
        target_type = schema_type(schema, rule.path)
        return f"({_falsy(ref_col, ref_type)} AND {_falsy(target, target_type)})"
    return _in(_str(ref_col), [_lit(v) for v in expected])


def _then_details(then_part: dict | None, rule: Rule, schema: DataType) -> str:
    """thenPart check (validator.py:150-170); NULL = valid."""
    if not then_part:
        return "NULL"
    col = field_sql(schema, rule.path)
    branches = [(f"({col} IS NULL)", "'Required Field is missing.'")]
    if "startsWithField" in then_part:
        sw = field_sql(schema, then_part["startsWithField"])
        sw_type = schema_type(schema, then_part["startsWithField"])
        branches.append((
            f"((NOT {_falsy(sw, sw_type)}) AND "
            f"(NOT startswith({_str(col)}, {_str(sw)})))",
            "format_string('Value of Field (\\'%s\\') does not start with %s', "
            f"{_str(col)}, {_str(sw)})",
        ))
    elif "matchAgainst" in then_part and isinstance(then_part["matchAgainst"], list):
        allowed = then_part["matchAgainst"]
        if allowed and all(isinstance(v, (int, float)) for v in allowed):
            # numeric lists compare numerically (Python 3.0 == 3,
            # validator.py:166)
            member = _in(
                f"TRY_CAST({col} AS {_DEC})",
                [f"CAST({_num_lit(v)} AS {_DEC})" for v in allowed],
            )
        else:
            member = _in(_str(col), [_lit(v) for v in allowed])
        branches.append((
            f"(NOT {member})",
            "format_string('Value of Field (\\'%s\\') is not one of the "
            f"expected values (%s)', {_str(col)}, "
            f"{_lit(repr(then_part['matchAgainst']))})",
        ))
    return _case(branches)


def _is_skip_condition(cond: dict) -> bool:
    tp = cond.get("thenPart")
    return bool(tp and tp.get("skipSequentialValidation"))


def rule_details(
    rule: Rule, schema: DataType, path_label: str | None = None
) -> str:
    """Compile one rule to its details SQL (NULL = valid) — the
    Spark-native replacement for Field.validate (validator.py:83-94)."""
    if rule.noop:
        return "CAST(NULL AS STRING)"
    uncond = _unconditional_details(rule, schema, path_label)
    if not rule.conditions:
        return uncond
    chain = [
        (_condition_met(cond, rule, schema),
         _then_details(cond.get("thenPart"), rule, schema))
        for cond in rule.conditions
        # skip conditions feed the skip flags, not field validation
        if not _is_skip_condition(cond)
    ]
    return _case(chain, uncond) if chain else uncond


def skip_flag_exprs(ruleset: RuleSet, schema: DataType) -> dict[str, Column]:
    """Per-record boolean columns: rule path → 'this record meets a
    skipSequentialValidation condition for that path'
    (validator.py:110-112). The sequential operator ORs them per file —
    the reference's skip set is per-file state.

    List rules are deliberately excluded: the reference would add the
    EXPANDED path (``a{0}.b``) to its skip set, but the sequential
    checker only ever tests the five fixed ``metadata.serialId.*`` /
    timestamp paths against that set (sequential.py:42-56), so a
    list-rule skip condition can never gate anything."""
    out: dict[str, Column] = {}
    for rule in ruleset.rules:
        flags = [
            _condition_met(c, rule, schema)
            for c in rule.conditions or ()
            if _is_skip_condition(c)
        ]
        if flags:
            out[rule.path] = F.expr(f"coalesce({' OR '.join(flags)}, false)")
    return out


# ------------------------------------------------------------ validate


def _long_rows(df: DataFrame, ids: list[str], verdicts: str) -> DataFrame:
    """(id_cols, field_path, valid, details) from an SQL array of
    (field_path, details) structs; NULL details = valid."""
    return df.selectExpr(*ids, f"explode({verdicts}) AS v").selectExpr(
        *ids,
        "v.field_path AS field_path",
        "v.details IS NULL AS valid",
        "coalesce(v.details, '') AS details",
    )


def _verdict(path_sql: str, details: str) -> str:
    return f"named_struct('field_path', {path_sql}, 'details', {details})"


def validate(
    df: DataFrame, ruleset: RuleSet, id_cols: list[str]
) -> DataFrame:
    """Long-format validation results: one row per (record, rule), the
    Spark-native form of RecordValidationResult (result.py:19-32).

    Output: *id_cols, field_path, valid, details ('' when valid).
    Scale: a single project + explode — no shuffle, no UDF; the explode
    factor equals the rule count, pruned columns never leave the scan.
    Plan build: the scalar rules reach the JVM as one SQL expression.
    """
    schema = df.schema
    ids = [_ident(c) for c in id_cols]
    long_results = None
    if ruleset.rules:
        verdicts = ", ".join(
            _verdict(_lit(r.path), rule_details(r, schema)) for r in ruleset.rules
        )
        long_results = _long_rows(df, ids, f"array({verdicts})")
    list_results = _validate_list_rules(df, schema, ruleset, ids)
    if long_results is None and list_results is None:
        raise ValueError("ruleset declares no rules")
    if list_results is None:
        return long_results
    if long_results is None:
        return list_results
    return long_results.unionByName(list_results)


def validation_summary(
    df: DataFrame, ruleset: RuleSet, file_col: str
) -> DataFrame:
    """Per-file A2 tallies computed from the WIDE verdicts — no explode,
    no distinct-counting: one projection computing the per-record
    invalid count, then a single hash aggregate on the file column.
    Output: (file, records, num_validations, num_errors,
    num_error_messages) — the explode-based ``validate`` + regroup path
    produces identical numbers at rule-count× the row volume.
    """
    schema = df.schema
    inv = " + ".join(
        f"CAST(({rule_details(r, schema)}) IS NOT NULL AS INT)"
        for r in ruleset.rules
    )
    per_record = df.selectExpr(f"{_ident(file_col)} AS file", f"({inv}) AS inv_cnt")
    return per_record.groupBy("file").agg(
        F.count(F.lit(1)).alias("records"),
        (F.count(F.lit(1)) * len(ruleset.rules)).alias("num_validations"),
        F.sum("inv_cnt").alias("num_errors"),
        F.sum((F.col("inv_cnt") > 0).cast("long")).alias("num_error_messages"),
    )


# ------------------------------------------------------- list rules


def _split_list_path(path: str) -> tuple[list[str], str]:
    """``a.list.b.list.c`` → (["a", "b"], "c"): dotted level paths
    between exact ``list`` segments, plus the scalar tail. ONLY a whole
    segment equal to ``list`` is a marker (validator.py:320
    ``keys[0] == 'list'``) — ``a.list2.b`` has none and is navigated as
    an ordinary path, even though the classifier (substring
    ``.list``, validator.py:290) routed it here."""
    parts: list[list[str]] = [[]]
    for seg in path.split("."):
        if seg == "list":
            parts.append([])
        else:
            parts[-1].append(seg)
    return [".".join(p) for p in parts[:-1]], ".".join(parts[-1])


def _expanded_path_fmt(levels: list[str], tail: str, markers: list[str]) -> str:
    """Render the expanded-path template: levels ["a","b"], tail "c",
    markers ["%s","0"] → ``a{%s}.b{0}.c``. Empty level paths (directly
    nested arrays, ``a.list.list.c``) contribute just their marker."""
    out = [levels[0]]
    rest = levels[1:] + [tail]
    for marker, seg in zip(markers, rest):
        out.append("{" + marker + "}")
        if seg:
            out.append("." + seg)
    return "".join(out)


def _validate_list_rules(
    df: DataFrame, schema: StructType, ruleset: RuleSet, ids: list[str]
) -> DataFrame | None:
    """P13: ``a.list.b`` rules expand per actual array element, one
    posexplode per exact ``list`` segment — the Spark generator form of
    the reference's recursive expander (validator.py:304-378),
    supporting arbitrary nesting depth (``a.list.b.list.c`` →
    ``a{i}.b{j}.c``).

    The expanded element rule carries the FULL config section —
    conditions included — exactly as the reference's
    ``Field(path, self.config[path_init], self)`` does
    (validator.py:316); condition references (ifPart fieldName,
    startsWithField) resolve from the record ROOT, so all original
    columns ride through the explodes.

    Missing/non-list data yields a "Field missing" verdict per element
    that DOES exist (real indices for exploded levels, ``{0}`` for the
    levels absent from the schema; dynamically via posexplode_outer's
    NULL row when a record's array is NULL) so absence can invalidate —
    the reference's "add 1 entry to allow invalidation later" branch
    (validator.py:327-332)."""
    outs = []
    for rule in ruleset.list_rules:
        levels, tail = _split_list_path(rule.path)
        if not levels:
            # no exact 'list' segment: an ordinary scalar rule that the
            # substring classifier mis-binned; validate at the literal
            # path like the reference's no-marker walk (field_list_temp
            # ends up with the unexpanded path)
            verdict = _verdict(_lit(rule.path), rule_details(rule, schema))
            outs.append(_long_rows(df, ids, f"array({verdict})"))
            continue
        if not tail:
            # list at end of config field: the reference warns and emits
            # nothing (validator.py:340-342)
            continue
        if not levels[0]:
            # 'list.x' would make the record root an array — not
            # expressible for struct records; nothing to emit
            continue

        # walk the levels, posexploding each array; stop early if the
        # schema lacks an array at some level (static missing). All
        # source columns are kept so condition references still resolve;
        # the exploded schema is tracked here, not fetched from the JVM.
        cur, cur_schema = df, schema
        parent: str | None = None
        pos_cols: list[str] = []
        static_missing_at: int | None = None
        for i, lvl in enumerate(levels):
            if parent is None:
                base = lvl
            else:
                base = f"{parent}.{lvl}" if lvl else parent
            arr_type = schema_type(cur_schema, base)
            if not isinstance(arr_type, ArrayType):
                static_missing_at = i
                break
            cur = cur.selectExpr(
                "*",
                f"posexplode_outer({field_sql(cur_schema, base)}) "
                f"AS (`__pos{i}`, `__elem{i}`)",
            )
            cur_schema = StructType(cur_schema.fields + [
                StructField(f"__pos{i}", IntegerType()),
                StructField(f"__elem{i}", arr_type.elementType),
            ])
            parent = f"__elem{i}"
            pos_cols.append(f"__pos{i}")

        pos_exprs = [f"CAST(coalesce(`{p}`, 0) AS STRING)" for p in pos_cols]

        if static_missing_at is not None:
            # schema lacks the array at level i → "Field missing" per
            # element of the levels that DO exist, with their real
            # indices; {0} only for the truly absent levels
            markers = ["%s"] * len(pos_cols) + ["0"] * (
                len(levels) - len(pos_cols)
            )
            fmt = _expanded_path_fmt(levels, tail, markers)
            path_expr = (
                f"format_string({_lit(fmt)}, {', '.join(pos_exprs)})"
                if pos_cols else _lit(fmt)
            )
            outs.append(cur.selectExpr(
                *ids,
                f"{path_expr} AS field_path",
                "false AS valid",
                f"concat('Field missing: ', {path_expr}) AS details",
            ))
            continue

        # per-row expanded path: "a{i}.b{j}.c" (validator.py:314)
        fmt = _expanded_path_fmt(levels, tail, ["%s"] * len(levels))
        path_expr = f"format_string({_lit(fmt)}, {', '.join(pos_exprs)})"
        elem_rule = Rule(
            path=f"{parent}.{tail}",
            type=rule.type,
            upper_limit=rule.upper_limit,
            lower_limit=rule.lower_limit,
            values=rule.values,
            choices=rule.choices,
            # the reference hands the expanded Field the whole config
            # section, conditions included (validator.py:316)
            conditions=rule.conditions,
            earliest_time=rule.earliest_time,
            latest_time=rule.latest_time,
            date_format=rule.date_format,
            allow_empty=rule.allow_empty,
            noop=rule.noop,
        )
        details = rule_details(elem_rule, cur_schema, path_label=path_expr)
        outs.append(_long_rows(cur, ids, f"array({_verdict(path_expr, details)})"))
    if not outs:
        return None
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res
