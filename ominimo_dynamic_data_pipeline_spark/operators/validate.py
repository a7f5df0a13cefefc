"""Declarative field-validation rule language.

Re-expresses the reference's rule language (``/root/reference/src/validator.py:19-110``)
with identical semantics and error labels, as pure Catalyst expressions —
no UDFs, one projection, one codegen'd predicate.

Load-bearing semantics pinned by tests (tests/test_validator.py):
  * Null-permissiveness: range/date/pattern checks PASS null values; only
    ``notNull``/``notEmpty`` assert presence.  ``isNumeric``/``isInteger``
    additionally require non-null.
  * Error labels embed the parsed float (``min:18`` -> ``..._at_least_18.0``).
  * ``dateBefore``/``dateAfter`` are INCLUSIVE (<= / >=) despite the names,
    and pass when either side is null or only one side parses... no: pass when
    either side is *null*; fail when both non-null and either fails to parse.
  * Unknown checks: the reference silently passes them with an
    ``unknown_validation_*`` label (``validator.py:106-108``); we hard-error
    by default and reproduce the legacy behavior under ``strict=False``.

Scale notes: validation is a single narrow projection — no shuffle, fully
whole-stage-codegen'd, safe at any scale.  The OK/KO split is two filters
over one tagged frame; callers that consume both should ``cache()`` the
tagged frame (see ``ValidationResult.tagged``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ERRORS_COL = "validation_errors"
VALID_COL = "is_valid"

# A check builder takes (field, arg) and returns (pass-condition, error-label).
CheckBuilder = Callable[[str, str], tuple[Column, str]]


def _num(field: str) -> Column:
    # ANSI-safe: bad data yields null instead of throwing (matches the
    # reference's try_cast semantics, validator.py:35-63).
    return F.col(field).try_cast("double")


def _field_col(field: str) -> Column:
    return F.col(field)


def _date(field: str) -> Column:
    return F.try_to_date(F.col(field), "yyyy-MM-dd")


def _check_not_empty(field: str, _: str) -> tuple[Column, str]:
    c = _field_col(field)
    return c.isNotNull() & (c != ""), f"{field}:must_be_non_empty"


def _check_not_null(field: str, _: str) -> tuple[Column, str]:
    return _field_col(field).isNotNull(), f"{field}:must_not_be_null"


def _check_is_numeric(field: str, _: str) -> tuple[Column, str]:
    c = _field_col(field)
    return c.isNotNull() & _num(field).isNotNull(), f"{field}:must_be_numeric"


def _check_is_integer(field: str, _: str) -> tuple[Column, str]:
    c, n = _field_col(field), _num(field)
    cond = c.isNotNull() & n.isNotNull() & (n == n.try_cast("int"))
    return cond, f"{field}:must_be_integer"


def _check_min(field: str, arg: str) -> tuple[Column, str]:
    v = float(arg)
    n = _num(field)
    cond = _field_col(field).isNull() | (n.isNotNull() & (n >= v))
    return cond, f"{field}:must_be_at_least_{v}"


def _check_max(field: str, arg: str) -> tuple[Column, str]:
    v = float(arg)
    n = _num(field)
    cond = _field_col(field).isNull() | (n.isNotNull() & (n <= v))
    return cond, f"{field}:must_be_at_most_{v}"


_RANGE_RE = re.compile(r"^\s*(-?\d+(?:\.\d+)?)-(-?\d+(?:\.\d+)?)\s*$")


def _check_range(field: str, arg: str) -> tuple[Column, str]:
    # regex, not split('-'): a negative lower bound like 'range:-5-10'
    # must parse as (-5, 10), and malformed args must name the field/rule
    # instead of raising a bare float('') ValueError at compile time.
    m = _RANGE_RE.match(arg)
    if m is None:
        raise ValueError(
            f"invalid range rule 'range:{arg}' for field '{field}': "
            "expected 'min-max' with numeric bounds (negative ok, e.g. "
            "'range:-5-10')"
        )
    lo, hi = float(m.group(1)), float(m.group(2))
    n = _num(field)
    cond = _field_col(field).isNull() | (n.isNotNull() & (n >= lo) & (n <= hi))
    return cond, f"{field}:must_be_between_{lo}_and_{hi}"


def _check_is_date(field: str, _: str) -> tuple[Column, str]:
    cond = _field_col(field).isNull() | _date(field).isNotNull()
    return cond, f"{field}:must_be_valid_date"


def _check_date_before(field: str, other: str) -> tuple[Column, str]:
    d, o = _date(field), _date(other)
    cond = (
        _field_col(field).isNull()
        | _field_col(other).isNull()
        | (d.isNotNull() & o.isNotNull() & (d <= o))
    )
    return cond, f"{field}:must_be_before_{other}"


def _check_date_after(field: str, other: str) -> tuple[Column, str]:
    d, o = _date(field), _date(other)
    cond = (
        _field_col(field).isNull()
        | _field_col(other).isNull()
        | (d.isNotNull() & o.isNotNull() & (d >= o))
    )
    return cond, f"{field}:must_be_after_{other}"


def _check_pattern(field: str, arg: str) -> tuple[Column, str]:
    c = _field_col(field)
    return c.isNull() | c.rlike(arg), f"{field}:must_match_pattern"


# --- engine extensions beyond the reference's 12 checks (same
# null-permissive semantics: only notNull/notEmpty assert presence) -------

_EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"


def _check_is_email(field: str, _: str) -> tuple[Column, str]:
    c = _field_col(field)
    return c.isNull() | c.rlike(_EMAIL_RE), f"{field}:must_be_valid_email"


def _check_in_list(field: str, arg: str) -> tuple[Column, str]:
    values = [v for v in arg.split("|") if v != ""]
    if not values:
        raise ValueError(
            f"invalid inList rule for field '{field}': expected "
            "'inList:a|b|c' with at least one value"
        )
    c = _field_col(field)
    cond = c.isNull() | c.isin(*values)
    return cond, f"{field}:must_be_one_of_{'|'.join(values)}"


_LENGTH_RE = re.compile(r"^\s*(\d+)-(\d+)\s*$")


def _check_length(field: str, arg: str) -> tuple[Column, str]:
    m = _LENGTH_RE.match(arg)
    if m is None:
        raise ValueError(
            f"invalid length rule 'length:{arg}' for field '{field}': "
            "expected 'min-max' with non-negative integer bounds"
        )
    lo, hi = int(m.group(1)), int(m.group(2))
    c = _field_col(field)
    n = F.length(c)
    cond = c.isNull() | ((n >= lo) & (n <= hi))
    return cond, f"{field}:length_must_be_between_{lo}_and_{hi}"


# Bare checks (no argument) and prefixed checks ("name:arg").
_BARE_CHECKS: dict[str, CheckBuilder] = {
    "notEmpty": _check_not_empty,
    "notNull": _check_not_null,
    "isNumeric": _check_is_numeric,
    "isInteger": _check_is_integer,
    "isDate": _check_is_date,
    "isEmail": _check_is_email,
}
_PREFIX_CHECKS: dict[str, CheckBuilder] = {
    "min": _check_min,
    "max": _check_max,
    "range": _check_range,
    "dateBefore": _check_date_before,
    "dateAfter": _check_date_after,
    "pattern": _check_pattern,
    "inList": _check_in_list,
    "length": _check_length,
}


def build_check(field: str, check: str, strict: bool = True) -> tuple[Column, str]:
    """Compile one ``(field, check)`` pair into (pass-condition, error-label)."""
    if check in _BARE_CHECKS:
        return _BARE_CHECKS[check](field, "")
    if ":" in check:
        prefix, arg = check.split(":", 1)
        if prefix in _PREFIX_CHECKS:
            return _PREFIX_CHECKS[prefix](field, arg)
    if strict:
        raise ValueError(f"Unknown validation check {check!r} for field {field!r}")
    # Legacy compat: unknown checks always pass, with a marker label.
    return F.lit(True), f"{field}:unknown_validation_{check}"


@dataclass
class ValidationResult:
    """OK/KO split plus the shared tagged frame for multi-action reuse."""

    tagged: DataFrame  # original columns + is_valid + validation_errors
    ok: DataFrame  # passing rows, bookkeeping columns removed
    ko: DataFrame  # failing rows + validation_errors
    # every label the rules can put in validation_errors, in rule order,
    # de-duplicated (two checks may share one label)
    labels: list[str] = field(default_factory=list)


def _compile_rules(
    rules: Sequence[Mapping[str, Any]], strict: bool
) -> list[tuple[Column, str]]:
    return [
        build_check(rule["field"], check, strict=strict)
        for rule in rules
        for check in rule.get("validations") or []
    ]


def _tag(df: DataFrame, compiled: Sequence[tuple[Column, str]]) -> DataFrame:
    if not compiled:
        return df.withColumn(VALID_COL, F.lit(True)).withColumn(
            ERRORS_COL, F.array().cast("array<string>")
        )

    is_valid = reduce(lambda a, b: a & b, (c for c, _ in compiled))
    errors = F.array_compact(
        F.array(*[F.when(~cond, F.lit(label)) for cond, label in compiled])
    )
    return df.withColumn(VALID_COL, is_valid).withColumn(ERRORS_COL, errors)


def tag_validations(
    df: DataFrame, rules: Sequence[Mapping[str, Any]], strict: bool = True
) -> DataFrame:
    """Add ``is_valid`` and ``validation_errors`` in a single projection.

    Validity is the conjunction of every (field, check) condition; the errors
    array holds the label of every failing check, in rule order.
    """
    return _tag(df, _compile_rules(rules, strict))


def apply_validations(
    df: DataFrame,
    rules: Sequence[Mapping[str, Any]],
    strict: bool = True,
    cache_tagged: bool = False,
) -> ValidationResult:
    """Split ``df`` into OK and KO streams per the rule set.

    With no rules the OK frame is the input and KO is the empty relation
    (``df.limit(0)`` — Catalyst propagates emptiness), matching the
    reference's contract.
    """
    if not any(rule.get("validations") for rule in rules or []):
        empty = df.limit(0).withColumn(ERRORS_COL, F.array().cast("array<string>"))
        return ValidationResult(tagged=df, ok=df, ko=empty)

    compiled = _compile_rules(rules, strict)
    tagged = _tag(df, compiled)
    if cache_tagged:
        tagged = tagged.cache()
    ok = tagged.filter(F.col(VALID_COL)).drop(VALID_COL, ERRORS_COL)
    ko = tagged.filter(~F.col(VALID_COL)).drop(VALID_COL)
    labels = list(dict.fromkeys(label for _, label in compiled))
    return ValidationResult(tagged=tagged, ok=ok, ko=ko, labels=labels)
