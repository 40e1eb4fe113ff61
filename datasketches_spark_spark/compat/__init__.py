"""Interop with the Apache DataSketches wire format (reference states).

Estimate functions accept imported states transparently (the sketches
deserializer falls back here on foreign bytes); ``import_datasketches_state``
is the explicit bulk-migration Column function: it converts a column of
reference-persisted DataSketches bytes to engine wire format once, so every
later combine/estimate pays no per-read decode.
"""

from .datasketches import (
    WeightedSample,
    decode_distinct,
    decode_freqitems,
    decode_quantile,
    is_datasketches,
    to_datasketches_state,
    to_engine_sketch,
    to_engine_state,
)


def import_state_udf(item_type: str = "auto"):
    """Scalar pandas UDF: DataSketches bytes -> engine state bytes (null
    -> null). Raises on undecodable input (like ``*_combine``): a
    migration that silently nulls states would corrupt downstream
    merges."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def conv(states: pd.Series) -> pd.Series:
        out = [None if blob is None
               else to_engine_sketch(bytes(blob), item_type).serialize()
               for blob in states]
        return pd.Series(out, dtype=object)

    return conv


def export_state_udf():
    """Scalar pandas UDF: engine state bytes -> Apache DataSketches wire
    bytes (null -> null). Quantile and frequent-items states (exact
    regime, plus estimation-mode KLL/REQ) and CPC-union states
    (re-encoded as merged CPC images, byte-identical to
    ``CpcUnion.getResult()``); raises on non-exportable families so an
    export job never silently drops states."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def conv(states: pd.Series) -> pd.Series:
        out = [None if blob is None
               else to_datasketches_state(bytes(blob)) for blob in states]
        return pd.Series(out, dtype=object)

    return conv


def _column(col):
    from pyspark.sql.functions import col as _c
    return _c(col) if isinstance(col, str) else col


def import_datasketches_state(col, item_type: str = "auto"):
    """Column fn: DataSketches bytes -> engine state bytes
    (:func:`import_state_udf`)."""
    return import_state_udf(item_type)(_column(col))


def export_datasketches_state(col):
    """Column fn: engine state bytes -> Apache DataSketches wire bytes
    (:func:`export_state_udf`)."""
    return export_state_udf()(_column(col))


__all__ = [
    "export_datasketches_state",
    "import_datasketches_state",
    "to_datasketches_state",
    "WeightedSample",
    "decode_distinct",
    "decode_freqitems",
    "decode_quantile",
    "is_datasketches",
    "to_engine_sketch",
    "to_engine_state",
]
