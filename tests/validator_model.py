"""Plain-Python model of the reference's field validation (SURVEY §1.2,
§2.2 P5-P13; odevalidator/validator.py:83-400).

It is written in the reference's imperative shape, one record at a
time: parse the INI into one Field per section (validator.py:262-292),
expand every ``.list`` section over the record's actual list elements
(validator.py:304-378), then ask each Field for its verdict
(validator.py:83-243). It never imports the engine, so tests can pin
``operators.validation`` to it.

Message strings follow the module docstring of
``operators/validation.py`` and SURVEY §1.2/§2.2; the conditional
(thenPart) messages are the strings the engine matched field for field
against the reference validator run in-process when the parity test
was added. The model keeps the reference's own behaviour where the
engine documents a deviation: parse-failure messages carry the Python
exception text, and timestamps render as ``str(datetime)``. The
reference's malformed choice-count message (validator.py:241) is not
modelled; a choice rule gets the engine's well-formed message.

A result is a (serial_id, field_path, valid, details) tuple, details
'' when valid; serial_id is the record's 1-based position in the queue
(validator.py:398-400).
"""

from __future__ import annotations

import json
import re
from configparser import ConfigParser, ExtendedInterpolation, SectionProxy
from datetime import datetime, timedelta, timezone
from decimal import Decimal, InvalidOperation

import dateutil.parser

TYPE_DECIMAL = "decimal"
TYPE_ENUM = "enum"
TYPE_TIMESTAMP = "timestamp"
TYPE_CHOICE = "choice"

VALID = (True, "")


def field_value(path: str, record):
    """P5: walk a dotted path with ``{i}`` list indexes; a missing key,
    a non-dict parent or an index past the end gives None
    (validator.py:172-194)."""
    value = record
    for segment in path.split("."):
        name = segment.split("{", 1)[0]
        if not isinstance(value, dict) or name not in value:
            return None
        value = value[name]
        for index in re.findall(r"\{(\d+)\}", segment):
            if not isinstance(value, list) or int(index) >= len(value):
                return None
            value = value[int(index)]
    return value


def _time_limit(raw: str | None, now: datetime) -> datetime | None:
    if raw is None:
        return None
    if raw == "NOW":
        # frozen when the INI is parsed, not truncated (validator.py:70)
        return now
    return dateutil.parser.parse(raw).replace(microsecond=0)


class Field:
    """One rule section (validator.py:42-80) bound to a concrete path:
    the section name, or for a list section one expanded ``a{i}.b``."""

    def __init__(self, path: str, section: SectionProxy, now: datetime):
        self.path = path
        self.type = section["Type"]
        self.upper_limit = _decimal_option(section, "UpperLimit")
        self.lower_limit = _decimal_option(section, "LowerLimit")
        self.values = _json_option(section, "Values")
        self.choices = _json_option(section, "Choices")
        self.equals_value = _json_option(section, "EqualsValue")
        self.earliest_time = _time_limit(section.get("EarliestTime"), now)
        self.latest_time = _time_limit(section.get("LatestTime"), now)
        self.date_format = section.get("DateFormat")
        self.allow_empty = section.getboolean("AllowEmpty", fallback=False)

    def validate(self, record: dict, skips: set[str]) -> tuple[bool, str]:
        value = field_value(self.path, record)
        if self.equals_value is None:
            return self._check_unconditional(value, record)
        if not isinstance(self.equals_value, (dict, list, str)):
            # a scalar EqualsValue (``= 6``) is not Iterable: _check_value
            # returns None and the rule passes (validator.py:99, 129)
            return VALID
        conditions = (
            self.equals_value.get("conditions", [])
            if isinstance(self.equals_value, dict) else []
        )
        for condition in conditions:
            if not self._condition_met(condition["ifPart"], value, record):
                continue
            then_part = condition.get("thenPart")
            if then_part and then_part.get("skipSequentialValidation"):
                # P11: a skip condition feeds the file's skip set and the
                # search for a deciding condition goes on
                skips.add(self.path)
                continue
            return self._check_conditional(then_part, value, record)
        return self._check_unconditional(value, record)

    def _condition_met(self, if_part: dict, value, record: dict) -> bool:
        reference = field_value(if_part["fieldName"], record)
        expected = if_part.get("fieldValues")
        if expected is None:
            # P12: existence-style, met when the referenced field and the
            # target field are both falsy (validator.py:131-148)
            return not reference and not value
        return reference in expected

    def _check_conditional(self, then_part, value, record: dict):
        """thenPart check (validator.py:150-170)."""
        if not then_part:
            return VALID
        if value is None:
            return False, "Required Field is missing."
        if "startsWithField" in then_part:
            prefix = field_value(then_part["startsWithField"], record)
            if prefix and not str(value).startswith(str(prefix)):
                return False, (
                    "Value of Field ('%s') does not start with %s" % (value, prefix)
                )
        elif isinstance(then_part.get("matchAgainst"), list):
            allowed = then_part["matchAgainst"]
            # Python membership: 3.0 matches [3] (validator.py:166)
            if value not in allowed:
                return False, (
                    "Value of Field ('%s') is not one of the expected values (%s)"
                    % (value, allowed)
                )
        return VALID

    def _check_unconditional(self, value, record: dict) -> tuple[bool, str]:
        """P6-P10 (validator.py:196-243); string and serial rules have no
        type branch, so they check presence only."""
        if value is None:
            return False, "Field missing: %s" % self.path
        if value == "":
            return VALID if self.allow_empty else (False, "Field empty")
        if self.type == TYPE_ENUM and self.values is not None:
            if str(value).lower() not in [str(v).lower() for v in self.values]:
                known = ", ".join(str(v) for v in self.values)
                return False, (
                    "Value '%s' not in list of known values: [%s]" % (value, known)
                )
        elif self.type == TYPE_DECIMAL and (
            self.upper_limit is not None or self.lower_limit is not None
        ):
            try:
                number = Decimal(str(value))
                if self.upper_limit is not None and number > self.upper_limit:
                    return False, "Value '%d' is greater than upper limit '%d'" % (
                        number, self.upper_limit
                    )
                if self.lower_limit is not None and number < self.lower_limit:
                    return False, "Value '%d' is less than lower limit '%d'" % (
                        number, self.lower_limit
                    )
            except InvalidOperation as err:
                return False, (
                    "failure to perform decimal validation on %s: %r" % (value, err)
                )
        elif self.type == TYPE_TIMESTAMP:
            try:
                if self.date_format:
                    ts = datetime.strptime(str(value), self.date_format)
                else:
                    ts = dateutil.parser.parse(str(value))
                if self.earliest_time is not None and ts < self.earliest_time:
                    return False, (
                        "Timestamp value '%s' occurs before earliest limit '%s'"
                        % (ts, self.earliest_time)
                    )
                latest = self.latest_time
                if latest is not None and ts > latest + timedelta(minutes=1):
                    return False, (
                        "Timestamp value '%s' occurs after latest limit '%s'"
                        % (ts, latest)
                    )
            except (ValueError, OverflowError, TypeError) as err:
                return False, "failure to perform timestamp validation: %s" % err
        elif self.type == TYPE_CHOICE and self.choices:
            found = [
                c for c in self.choices
                if field_value(f"{self.path}.{c}", record) is not None
            ]
            if not found:
                return False, "No choices found in '%s'" % self.path
            if len(found) > 1:
                return False, "Found '%s' choices in '%s'" % (len(found), self.path)
        return VALID


def _decimal_option(section: SectionProxy, name: str) -> Decimal | None:
    raw = section.get(name)
    return Decimal(raw) if raw else None


def _json_option(section: SectionProxy, name: str):
    raw = section.get(name)
    return json.loads(raw) if raw is not None else None


def expand_list_path(data, keys: list[str], path: str, out: list[str]) -> None:
    """P13 (validator.py:304-378): walk ``keys`` through ``data`` (the
    value at ``path``), turning each whole ``list`` segment into one
    ``{i}`` per actual element, at any depth. ``a.list2.b`` holds no
    marker and stays a literal path. Data that is absent or not a list
    gets one ``{0}`` entry so that absence can invalidate; and because
    the reference's ``data == ''`` branch is not an ``elif``
    (validator.py:322-332), an absent list also gets a second entry
    that ends at its ``{0}``. A section ending in ``list`` gives none."""
    if not keys:
        out.append(path)
        return
    key, rest = keys[0], keys[1:]
    if key != "list":
        child = data.get(key) if isinstance(data, dict) else None
        expand_list_path(child, rest, f"{path}.{key}" if path else key, out)
    elif not rest:
        return
    elif isinstance(data, list):
        for i, element in enumerate(data):
            expand_list_path(element, rest, f"{path}{{{i}}}", out)
    else:
        expand_list_path(None, rest, f"{path}{{0}}", out)
        if data is None:
            out.append(f"{path}{{0}}")


def validate_records(
    config_text: str, records: list[dict], now: datetime | None = None
) -> tuple[list[tuple], set[str]]:
    """Validate a queue of records against an INI rule text: the result
    tuples of every record, and the skip set (rule paths that met a
    skipSequentialValidation condition in any record)."""
    now = now or datetime.now(timezone.utc)
    config = ConfigParser(interpolation=ExtendedInterpolation())
    config.read_string(config_text)
    scalar, lists = [], []
    for name in config.sections():
        if name == "_settings":
            continue
        if ".list" in name:
            lists.append(name)
        else:
            scalar.append(Field(name, config[name], now))
    skips: set[str] = set()
    results = []
    for serial_id, record in enumerate(records, start=1):
        fields = list(scalar)
        for name in lists:
            paths: list[str] = []
            expand_list_path(record, name.split("."), "", paths)
            # each expanded Field carries the whole section (validator.py:316)
            fields += [Field(p, config[name], now) for p in paths]
        for f in fields:
            valid, details = f.validate(record, skips)
            results.append((serial_id, f.path, valid, details))
    return results, skips
