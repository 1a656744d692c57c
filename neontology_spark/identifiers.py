"""Identifier discipline for DSL names (labels, properties, relationship types).

Mirrors the reference's GQL identifier rule (reference:
``src/neontology/gql.py:4-10``): names interpolated into generated queries
must match ``^[a-zA-Z][a-zA-Z0-9_]+$``. We keep the same rule for every
table/column/check name that can reach generated Spark SQL, which keeps the
SQL path injection-safe by construction (the Column API needs no escaping,
but ``spark.sql`` strings do).

Scale note: validation happens once at model-declaration time on the driver;
nothing here touches executors.
"""

from __future__ import annotations

import re

# Same pattern as reference gql.py:4-10 (two+ chars, leading letter).
GQL_IDENTIFIER_PATTERN = re.compile(r"^[a-zA-Z][a-zA-Z0-9_]+$")

# Property/column names additionally allow single-letter identifiers:
# the mandated input table (BASELINE.json input_hint) has columns `w`/`h`,
# which the reference's 2+-char rule would reject. Documented divergence —
# labels and relationship types keep the strict reference rule.
PROPERTY_IDENTIFIER_PATTERN = re.compile(r"^[a-zA-Z][a-zA-Z0-9_]*$")

# Spark-side integer bound check used where the reference funnels user ints
# through pydantic's int adapter (reference: basenode.py:517-521).
_INT_RE = re.compile(r"^-?\d+$")


class InvalidIdentifierError(ValueError):
    """Raised when a DSL name fails the identifier rule."""


def check_identifier(name: str, kind: str = "identifier") -> str:
    """Validate ``name`` against the GQL identifier rule; return it.

    Raises :class:`InvalidIdentifierError` on failure — the hard-fail
    analogue of the reference's interpolation guard
    (``graphengine.py:186,190,217,221,279-287``).
    """
    pattern = (
        PROPERTY_IDENTIFIER_PATTERN
        if ("property" in kind or "column" in kind or "field" in kind)
        else GQL_IDENTIFIER_PATTERN
    )
    if not isinstance(name, str) or not pattern.match(name):
        raise InvalidIdentifierError(
            f"invalid {kind} {name!r}: must match {pattern.pattern}"
        )
    return name


def check_int(value: object, kind: str = "value") -> int:
    """Coerce to int the way the reference's int_adapter does (strict-ish):
    bools are ints in Python but are rejected here to avoid silent surprises.
    """
    if isinstance(value, bool):
        raise ValueError(f"{kind} must be an int, got bool")
    if isinstance(value, int):
        return value
    if isinstance(value, str) and _INT_RE.match(value.strip()):
        return int(value.strip())
    raise ValueError(f"{kind} must be an int, got {value!r}")
