"""SQL text for expressions built on the driver: names, literals, sums.

The rule: an expression on a serving path (a model transform, a search)
is built with ONE ``F.expr`` call over SQL text, not one ``Column`` call
per term, literal or operator.  PySpark 4.1 wraps every ``Column``
operator and every ``F.*`` call in ``_with_origin`` call-site capture
(``pyspark/errors/utils.py``), which costs about seven Py4J round trips
per operation and a failing ``import IPython``.  Measured (seed 1,
``local[4]``): a 256-row request through the five-stage tabular pipeline
made 1,630 round trips, and building its plan took 0.30 s of the 0.33 s
request; ``IVFIndexModel.search`` at dim 32 made about 5,500, two thirds
of them in the unrolled norm and dot kernels.

The SQL text spells the same expression trees the ``Column`` calls built
(left-associative sums, the same ``CASE``/``coalesce`` shapes), so
outputs are bit-identical.  Rendering never depends on a session
setting:

- a column name goes in backticks, any backtick inside doubled, so it
  names one column and is never read as a struct path;
- a double is ``repr`` plus ``D`` (a bare ``0.5`` is a DECIMAL), NaN and
  ±inf a cast of ``'NaN'``/``'Infinity'``/``'-Infinity'`` (coalesced to
  stay non-nullable, as the literal is);
- a string is a cast of its UTF-8 bytes in hex, so
  ``spark.sql.parser.escapedStringLiterals`` cannot change it.
"""

from __future__ import annotations

import math


def name(c: str) -> str:
    """``c`` as one quoted column name."""
    return "`" + c.replace("`", "``") + "`"


_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def double(x) -> str:
    """``x`` as a non-null DOUBLE literal, bit for bit."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    # a cast alone is nullable where the literal is not; the coalesce
    # keeps the literal's schema and folds to it
    return f"coalesce(CAST('{_NON_FINITE[repr(x)]}' AS DOUBLE), 0.0D)"


def string(s: str) -> str:
    """``s`` as a STRING literal."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def double_array(v) -> str:
    """An ``array<double>`` of the literal values ``v``."""
    return "array(" + ", ".join(double(x) for x in v) + ")"


def left_sum(terms) -> str:
    """``((t0 + t1) + t2) + …`` in parentheses; each term a product or
    tighter-binding expression."""
    return "(" + " + ".join(terms) + ")"
