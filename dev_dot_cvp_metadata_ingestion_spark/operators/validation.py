"""Rule compiler: declarative rules → Spark SQL expression text (SURVEY §2.2).

The reference validates each record by interpreting every rule per row
(odevalidator/validator.py:294-302, 391-406) over its ``json.loads``
value (validator.py:265, 395). Here a record is one VARIANT column
``rec``, so each value keeps its own JSON type: missing, empty, number
or string is decided per row, and no other file can change it. Rules
compile ONCE, driver-side and in pure Python, into the SQL text of one
array of validation-verdict structs. That text crosses to the JVM in a
single ``selectExpr`` — one parse instead of one py4j round trip per
Column node — and runs whole-stage-codegen'd by Tungsten, no Python on
the hot path. One explode turns the wide verdicts into the long results
table (file, record id, field_path, valid, details).

Every INI value that reaches the SQL text goes through :func:`_lit`
(string literals, with ``$`` escaped so the parser's ``${var}``
substitution never fires) or :func:`_ident` (backtick-quoted names).

Replicated semantics (reference file:line):

* missing field → "Field missing: <path>"; a JSON null is missing, as
  ``None`` is in the reference                       (validator.py:197-198)
* empty string  → "Field empty" unless AllowEmpty    (validator.py:200-204)
* enum: case-insensitive membership of str(value)    (validator.py:206-207)
* decimal: Decimal compare against Upper/LowerLimit; the message
  renders %d-truncated values                        (validator.py:208-215)
* timestamp: parse, then earliest ≤ t ≤ latest+1min  (validator.py:216-229)
* choice: exactly one child path present             (validator.py:230-243)
* serial: no type branch exists — presence/empty only (validator.py:196-243
  vs config_2.ini:92)
* conditional rules: first met non-skip condition wins, skip conditions
  accumulate a sequential-skip set, no met condition → unconditional
  check; existence-style conditions test Python falsiness
                                                     (validator.py:96-170)
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
* objects and lists render as JSON, not as Python reprs.
"""

from __future__ import annotations

import math
import re
from collections import namedtuple
from dataclasses import replace
from datetime import datetime, timedelta
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..sources.rules import (
    Rule,
    RuleSet,
    TYPE_CHOICE,
    TYPE_DECIMAL,
    TYPE_ENUM,
    TYPE_TIMESTAMP,
)

REC = "rec"

_IDX_RE = re.compile(r"^(.*?)(?:\{(\d+)\})?$")

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


# -------------------------------------------------------------- records


def _heads(ruleset: RuleSet) -> set[str]:
    # the top-level names the rules read: their paths and the fields
    # their conditions name
    paths = set()
    for rule in ruleset.rules + ruleset.list_rules:
        paths.add(rule.path)
        for cond in rule.conditions or ():
            paths.add(cond["ifPart"]["fieldName"])
            paths.add((cond.get("thenPart") or {}).get("startsWithField", ""))
    return {p.split(".")[0] for p in paths}


def with_rec(df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """``df`` with its record in the VARIANT column ``rec``: the columns
    the rules read folded into one object, each value keeping its type.
    No other column enters it, so the scan can still prune them."""
    if REC in df.columns:
        return df
    heads = _heads(ruleset)
    body = ", ".join(f"{_lit(c)}, {_ident(c)}" for c in df.columns if c in heads)
    return df.withColumn(REC, F.expr(
        f"to_variant_object(named_struct({body}))" if body else "parse_json('{}')"
    ))


def _json_path(path: str) -> str:
    """Dotted rule path → JSON path: ``a.b{0}`` → ``$["a"]["b"][0]``.
    Spark's JSON path has no escapes: a key is quoted with the quote
    character it does not hold."""
    out = "$"
    for seg in path.split("."):
        key, idx = _IDX_RE.match(seg).groups()
        q = "'" if '"' in key else '"'
        if q in key:
            raise ValueError(f"rule path {path!r}: a key holds both quote characters")
        out += f"[{q}{key}{q}]" + (f"[{idx}]" if idx else "")
    return out


def _base(path: str, bases: frozenset[str]) -> tuple[str, str]:
    # (column, path in it): a list rule's element, or else the record
    head, _, rest = path.partition(".")
    return (_ident(head), rest) if head in bases else (REC, path)


def _read(path: str, type_: str, bases: frozenset[str] = frozenset()) -> str:
    # NULL when the path is absent (validator.py:191-193)
    base, rel = _base(path, bases)
    return f"try_variant_get({base}, {_lit(_json_path(rel))}, '{type_}')"


_Val = namedtuple("_Val", "t v")


class _Fields:
    """What the verdicts test. ``field(path)`` is the path's value:
    ``t`` its text (a string unquoted, anything else as JSON, NULL when
    missing or a JSON null) and ``v`` its VARIANT. Bound, each distinct
    path's text is read once per record and ``field.once(expr)`` is
    computed once per record, in projections under the verdicts (see
    :meth:`project`); unbound (the skip flags, SQL text that the
    sequential operator reads), both stay where they are tested."""

    def __init__(self, bases: frozenset[str] = frozenset(), bound: bool = True):
        self.bases, self.bound = bases, bound
        self.reads: dict[str, str] = {}  # SQL → field of `_reads`
        self.vals: dict[str, str] = {}  # SQL → field of `_vals`

    def __call__(self, path: str) -> _Val:
        t = _read(path, "string", self.bases)
        if self.bound:
            t = f"`_reads`.{self.reads.setdefault(t, f'r{len(self.reads)}')}"
        return _Val(t, _read(path, "variant", self.bases))

    def once(self, expr: str) -> str:
        if not self.bound:
            return expr
        return f"`_vals`.{self.vals.setdefault(expr, f'v{len(self.vals)}')}"

    def project(self, df: DataFrame) -> DataFrame:
        """``df`` plus the reads, then the values, each as one struct:
        every ``selectExpr`` argument is a py4j call."""
        for name, exprs in (("_reads", self.reads), ("_vals", self.vals)):
            if exprs:
                body = ", ".join(f"'{n}', {e}" for e, n in exprs.items())
                df = df.selectExpr("*", f"named_struct({body}) AS `{name}`")
        return df


# ------------------------------------------------------------- values


def _decimal(x: _Val) -> str:
    # TRY_: ANSI mode (Spark 4 default) makes a plain cast THROW; the
    # reference gives parse failure a verdict (validator.py:214-215)
    return f"TRY_CAST({x.t} AS {_DEC})"


# only a text that starts so can be a boolean's or a number's
_SCALAR_HEADS = ", ".join(f"'{c}'" for c in "-0123456789tf")


def _pystr(x: _Val) -> str:
    """``str(value)`` of the JSON value, as the reference renders it in
    comparisons and messages: True/False for booleans, and non-integral
    numbers through DOUBLE (a VARIANT decimal ``3.0`` prints ``3``)."""
    s = f"schema_of_variant({x.v})"
    return _case([
        (f"({x.t} IS NULL OR left({x.t}, 1) NOT IN ({_SCALAR_HEADS}))", x.t),
        (f"({s} = 'BOOLEAN')", f"initcap({x.t})"),
        (f"({s} IN ('DOUBLE', 'FLOAT') OR startswith({s}, 'DECIMAL'))",
         f"CAST(CAST({x.t} AS DOUBLE) AS STRING)"),
    ], x.t)


def _falsy(x: _Val) -> str:
    """Python falsiness (validator.py:137): missing/null, '', 0, False,
    [] and {}; only the string '' prints as ''."""
    return (
        f"({x.t} IS NULL OR {x.t} = '' OR (({x.t} IN ('false', '[]', '{{}}') "
        f"OR TRY_CAST({x.t} AS DOUBLE) = 0) "
        f"AND schema_of_variant({x.v}) != 'STRING'))"
    )


# ------------------------------------------------------------- helpers


def _py_ts_str(ts: str) -> str:
    """Render a timestamp the way Python ``str(datetime)`` does:
    microseconds omitted when zero (deterministic, oracle-expressible)."""
    return _case(
        [(f"date_format({ts}, 'SSSSSS') = '000000'",
          f"date_format({ts}, 'yyyy-MM-dd HH:mm:ss')")],
        f"date_format({ts}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')",
    )


# ------------------------------------------------- unconditional check


def _type_check_details(rule: Rule, x: _Val, field) -> str:
    """Details for the type-specific branch (validator.py:205-243) of
    the present, non-empty value ``x``; NULL means valid."""
    if rule.type == TYPE_ENUM and rule.values is not None:
        lowered = [_lit(val.lower()) for val in rule.values]
        joined = ", ".join(str(val) for val in rule.values)
        s = field.once(_pystr(x))
        return _case([(
            f"(NOT {_in(f'lower({s})', lowered)})",
            "format_string('Value \\'%s\\' not in list of known values: [%s]', "
            f"{s}, {_lit(joined)})",
        )])
    if rule.type == TYPE_DECIMAL:
        if rule.upper_limit is None and rule.lower_limit is None:
            # the reference only attempts the Decimal parse when a
            # limit is declared (validator.py:210-215); a limit-less
            # decimal rule passes any present non-empty value
            return "NULL"
        d = field.once(_decimal(x))
        # %d of the Decimal: truncated toward zero, exactly
        whole = f"CAST(CASE WHEN {d} < 0 THEN ceil({d}) ELSE floor({d}) END AS STRING)"
        branches = [(
            f"({d} IS NULL)",  # present value that won't cast
            "format_string('failure to perform decimal validation on %s', "
            f"{_pystr(x)})",
        )]
        for limit, op, word in (
            (rule.upper_limit, ">", "greater than upper"),
            (rule.lower_limit, "<", "less than lower"),
        ):
            if limit is not None:
                branches.append((
                    f"({d} {op} CAST({format(limit, 'f')}BD AS {_DEC}))",
                    f"format_string('Value \\'%s\\' is {word} limit \\'%d\\'', "
                    f"{whole}, {int(limit)})",
                ))
        return _case(branches)
    if rule.type == TYPE_TIMESTAMP:
        # a typed table's TIMESTAMP is taken as is
        t = field.once(_case(
            [(f"startswith(schema_of_variant({x.v}), 'TIMESTAMP')",
              f"variant_get({x.v}, '$', 'timestamp')")],
            _parse_ts(x.t, rule.date_format),
        ))
        branches = [(f"({t} IS NULL)", "'failure to perform timestamp validation'")]
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
    rule: Rule, field, path_label: str | None = None
) -> str:
    """Full _check_unconditional chain (validator.py:196-243); NULL = valid.

    ``path_label`` (SQL) overrides the path rendered into the
    missing-field message — list rules pass the per-row expanded
    ``a{i}.b`` path the reference's Field carries (validator.py:314,
    197-198)."""
    x = field(rule.path)
    branches = [
        (f"({x.t} IS NULL)",
         "format_string('Field missing: %s', "
         f"{_lit(rule.path) if path_label is None else path_label})"),
        # only the string '' prints as ''
        (f"({x.t} = '')", "NULL" if rule.allow_empty else "'Field empty'"),
    ]

    if rule.type == TYPE_CHOICE and rule.choices:
        cnt = "(" + " + ".join(
            f"CAST({field(f'{rule.path}.{c}').t} IS NOT NULL AS INT)"
            for c in rule.choices
        ) + ")"
        choice_details = _case([
            (f"({cnt} = 0)",
             f"format_string('No choices found in \\'%s\\'', {_lit(rule.path)})"),
            (f"({cnt} > 1)",
             "format_string('Found \\'%s\\' choices in \\'%s\\'', "
             f"{cnt}, {_lit(rule.path)})"),
        ])
        return _case(branches, choice_details)

    return _case(branches, _type_check_details(rule, x, field))


# --------------------------------------------------- conditional check


def _condition_met(cond: dict, rule: Rule, field) -> str:
    """ifPart evaluation (validator.py:131-148)."""
    if_part = cond["ifPart"]
    ref = field(if_part["fieldName"])
    expected = if_part.get("fieldValues")
    if expected is None:
        # existence-style: met iff referenced AND target both falsy
        return f"({field.once(_falsy(ref))} AND {field.once(_falsy(field(rule.path)))})"
    return _in(field.once(_pystr(ref)), [_lit(v) for v in expected])


def _then_details(then_part: dict | None, rule: Rule, field) -> str:
    """thenPart check (validator.py:150-170); NULL = valid."""
    if not then_part:
        return "NULL"
    x = field(rule.path)
    s = field.once(_pystr(x))
    branches = [(f"({x.t} IS NULL)", "'Required Field is missing.'")]
    if "startsWithField" in then_part:
        sw = field(then_part["startsWithField"])
        sw_s = field.once(_pystr(sw))
        branches.append((
            f"((NOT {field.once(_falsy(sw))}) AND (NOT startswith({s}, {sw_s})))",
            "format_string('Value of Field (\\'%s\\') does not start with %s', "
            f"{s}, {sw_s})",
        ))
    elif "matchAgainst" in then_part and isinstance(then_part["matchAgainst"], list):
        allowed = then_part["matchAgainst"]
        if allowed and all(isinstance(x, (int, float)) for x in allowed):
            # numeric lists compare numerically (Python 3.0 == 3,
            # validator.py:166)
            member = _in(
                field.once(_decimal(x)),
                [f"CAST({_num_lit(x)} AS {_DEC})" for x in allowed],
            )
        else:
            member = _in(s, [_lit(x) for x in allowed])
        branches.append((
            f"(NOT {member})",
            "format_string('Value of Field (\\'%s\\') is not one of the "
            f"expected values (%s)', {s}, "
            f"{_lit(repr(then_part['matchAgainst']))})",
        ))
    return _case(branches)


def _is_skip_condition(cond: dict) -> bool:
    tp = cond.get("thenPart")
    return bool(tp and tp.get("skipSequentialValidation"))


def rule_details(rule: Rule, field, path_label: str | None = None) -> str:
    """Compile one rule to its details SQL (NULL = valid) — the
    Spark-native replacement for Field.validate (validator.py:83-94).
    ``field`` maps a rule path to the SQL of its VARIANT value (see
    :class:`_Fields`)."""
    if rule.noop:
        return "CAST(NULL AS STRING)"
    uncond = _unconditional_details(rule, field, path_label)
    if not rule.conditions:
        return uncond
    chain = [
        (_condition_met(cond, rule, field),
         _then_details(cond.get("thenPart"), rule, field))
        for cond in rule.conditions
        # skip conditions feed the skip flags, not field validation
        if not _is_skip_condition(cond)
    ]
    return _case(chain, uncond) if chain else uncond


def skip_flag_exprs(ruleset: RuleSet) -> dict[str, str]:
    """Per-record boolean SQL expressions: rule path → 'this record meets a
    skipSequentialValidation condition for that path'
    (validator.py:110-112). The sequential operator ORs them per file —
    the reference's skip set is per-file state.

    List rules are deliberately excluded: the reference would add the
    EXPANDED path (``a{0}.b``) to its skip set, but the sequential
    checker only ever tests the five fixed ``metadata.serialId.*`` /
    timestamp paths against that set (sequential.py:42-56), so a
    list-rule skip condition can never gate anything. The flags read
    ``rec``."""
    out: dict[str, str] = {}
    for rule in ruleset.rules:
        flags = [
            _condition_met(c, rule, _Fields(bound=False))
            for c in rule.conditions or ()
            if _is_skip_condition(c)
        ]
        if flags:
            out[rule.path] = f"coalesce({' OR '.join(flags)}, false)"
    return out


# ------------------------------------------------------------ validate


def _long_rows(df, ids, verdicts, bases=frozenset()) -> DataFrame:
    """(id_cols, field_path, valid, details) from the (field_path,
    details) verdict structs that ``verdicts(field)`` compiles; NULL
    details = valid."""
    field = _Fields(bases)
    arr = verdicts(field)
    return (
        field.project(df)
        .selectExpr(*ids, f"explode(array({', '.join(arr)})) AS v")
        .selectExpr(
            *ids,
            "v.field_path AS field_path",
            "v.details IS NULL AS valid",
            "coalesce(v.details, '') AS details",
        )
    )


def _verdict(path_sql: str, details: str) -> str:
    return f"named_struct('field_path', {path_sql}, 'details', {details})"


def validate(
    df: DataFrame, ruleset: RuleSet, id_cols: list[str]
) -> DataFrame:
    """Long-format validation results: one row per (record, rule), the
    Spark-native form of RecordValidationResult (result.py:19-32).

    ``df`` holds the record in ``rec`` or as typed columns (see
    :func:`with_rec`). Output: *id_cols, field_path, valid, details
    ('' when valid). Scale: projections + one explode — no shuffle, no
    UDF; the explode factor equals the rule count.
    Plan build: the scalar rules reach the JVM as one SQL expression.
    """
    df = with_rec(df, ruleset)
    ids = [_ident(c) for c in id_cols]
    # a list rule without an exact 'list' segment is an ordinary rule
    # that the substring classifier mis-binned: it validates at the
    # literal path, like the reference's no-marker walk
    rules = ruleset.rules + [
        r for r in ruleset.list_rules if not _split_list_path(r.path)[0]
    ]
    outs = _list_rule_rows(df, ruleset, ids)
    if rules:
        outs.insert(0, _long_rows(df, ids, lambda field: [
            _verdict(_lit(r.path), rule_details(r, field)) for r in rules
        ]))
    if not outs:
        raise ValueError("ruleset declares no rules")
    return reduce(DataFrame.unionByName, outs)


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


def _list_rule_rows(
    df: DataFrame, ruleset: RuleSet, ids: list[str]
) -> list[DataFrame]:
    """P13: ``a.list.b`` rules expand per actual list element, one
    posexplode per exact ``list`` segment, to any depth
    (``a.list.b.list.c`` → ``a{i}.b{j}.c``, validator.py:304-378).

    The expanded element rule carries the FULL config section —
    conditions included (validator.py:316); condition references
    resolve from the record ROOT, so ``rec`` rides through the explodes.

    Each level explodes ``coalesce(list, array(NULL))``: ``[]`` expands
    to no element, as in the reference; a missing, null or non-list
    value expands to one NULL element at ``{0}``, so absence can
    invalidate (validator.py:327-332)."""
    outs = []
    for rule in ruleset.list_rules:
        levels, tail = _split_list_path(rule.path)
        # no 'list' segment: validated with the scalar rules; none after
        # the last: the reference warns and emits nothing
        # (validator.py:340-342); 'list.x' would make the record a list
        if not (levels and tail and levels[0]):
            continue

        cur, parent = df.selectExpr(*ids, REC), REC
        for i, lvl in enumerate(levels):
            arr = (
                f"try_variant_get({parent}, "
                f"{_lit(_json_path(lvl) if lvl else '$')}, 'array<variant>')"
            )
            cur = cur.selectExpr(
                "*",
                f"posexplode(coalesce({arr}, array(CAST(NULL AS VARIANT)))) "
                f"AS (`__pos{i}`, `__elem{i}`)",
            )
            parent = f"`__elem{i}`"
        pos = [f"`__pos{i}`" for i in range(len(levels))]
        elem = f"__elem{len(levels) - 1}"

        # per-row expanded path: "a{i}.b{j}.c" (validator.py:314); an
        # empty level (``a.list.list.c``) adds just its marker
        fmt = levels[0] + "".join(
            "{%s}" + (f".{seg}" if seg else "") for seg in levels[1:] + [tail]
        )
        path_expr = f"format_string({_lit(fmt)}, {', '.join(pos)})"
        # the reference hands the expanded Field the whole config
        # section, conditions included (validator.py:316)
        elem_rule = replace(rule, path=f"{elem}.{tail}")
        outs.append(_long_rows(
            cur, ids,
            lambda field, r=elem_rule, p=path_expr: [
                _verdict(p, rule_details(r, field, path_label=p))
            ],
            bases=frozenset({elem}),
        ))
    return outs
