"""Driver-side number canonicalization: the form in which the SQLite
sink binds a ``decimal.Decimal`` payload value (``sqlite3`` has no
Decimal adapter).

Which payload rows are already stored is decided by the databases
themselves (the sinks land the payload in a table typed like the
target and run ``EXCEPT``), so nothing here defines value equality; the
bind form only has to be exact text that SQLite's column affinity can
convert — two Decimals differing only beyond float53 precision stay
distinct strings (collapsing them through ``float()`` would lose real
rows in TEXT columns).
"""

from __future__ import annotations

import decimal

__all__ = ["canonical_number"]


def canonical_number(value: int | float | decimal.Decimal) -> str:
    """One canonical string per mathematical value across int/float/
    Decimal representations, at the precision the value itself carries.

    Floats canonicalize through their shortest round-trip decimal form
    (``repr``), while Decimals keep their full precision and stay
    distinct beyond float53.  ``normalize()`` strips trailing zeros and
    scale so ``1.50`` and ``1.5`` agree; zeros drop their sign.  NaN is
    the caller's business (the SQLite sink rejects it before binding).
    """
    if isinstance(value, float):
        value = decimal.Decimal(repr(value))
    elif isinstance(value, int):
        value = decimal.Decimal(value)
    if value.is_zero():
        return "0"
    return str(value.normalize())
