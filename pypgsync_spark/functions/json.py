"""JSON property extraction over string columns (``events.props``).

The reference has no JSON surface (SURVEY §2.8); this is part of the
extension layer for semi-structured event properties. Prefer
``get_json_object``/``from_json`` (JVM-side) over any Python parsing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def json_get_long(col: Column | str, key: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{key}").cast(T.LongType())

