"""Multi-sketch single-pass aggregation: one scan, many sketches.

At 100 TB the scan dominates, so computing HLL distinct + KLL quantiles +
Count-Min heavy hitters (possibly over different columns) in ONE pass over
the table beats running three jobs. Same treeAggregate shape as
``operators.agg`` — single-family aggregation is the one-spec case of this
module: the per-(partition, key) state is a tuple of sketch states, each
updated from its own column prepared once per Arrow batch by the one
split kernel (``fastscan.split_states``, through ``agg.arrow_partials``).

Output: ``keys..., <name> binary per spec, rows_seen, partition_id`` after
the partial stage; ``keys..., rows_seen, <name>_<field>...`` after the
full pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from zetasketch_spark.operators.agg import arrow_partials, merge_result
from zetasketch_spark.sketches.base import SketchFamily


def multi_sketch_partial(df: DataFrame, keys: list[str],
                         specs: dict[str, tuple[str, SketchFamily]]) -> DataFrame:
    """Stage 1. ``specs``: {output_name: (value_col, family)}. Families
    with a vectorized Arrow kernel hash the batch once; the rest go
    through the generic per-batch pandas fallback
    (`sketches/base.py::_SeriesPrepared`) — state-equal to a pandas
    ``family.update`` fold, just not zero-copy."""
    return arrow_partials(df, keys, specs)


def multi_sketch_agg(df: DataFrame, keys: list[str],
                     specs: dict[str, tuple[str, SketchFamily]]) -> DataFrame:
    """Full pipeline. Result columns are prefixed by the spec name, e.g.
    spec 'users' with an HLL family yields ``users_estimate``; the merge
    emits them directly (one fused ``applyInPandas``)."""
    return merge_result(multi_sketch_partial(df, keys, specs), keys, specs)
