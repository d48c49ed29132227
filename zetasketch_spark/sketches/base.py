"""Sketch family protocol: the Aggregator contract of the reference
(`java/com/google/zetasketch/Aggregator.java:31-106` — create / add / merge /
result / serialize) re-expressed for vectorized batch execution.

Every sketch in this library implements this same contract so the Spark
aggregation harness (`zetasketch_spark.operators.agg`) is shared:

* ``make()``               -> fresh state
* ``update(state, values)``-> absorb a pandas Series batch (vectorized)
* ``merge(a, b)``          -> associative combine, returns ``a``
* ``serialize(state)``     -> bytes (the unit of distribution / checkpoint)
* ``deserialize(bytes)``   -> state
* ``result(state)``        -> tuple matching ``result_fields``
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pandas as pd

from zetasketch_spark.hll import HllSketch


class _SeriesPrepared:
    """Positional-slice view over a pandas Series (the generic
    prepare_arrow fallback)."""

    __slots__ = ("series",)

    def __init__(self, series: pd.Series):
        self.series = series

    def __getitem__(self, idx):
        return self.series.take(idx)


def quantile_label(q: float) -> str:
    """Collision-free result-field name for a quantile: the fractional
    digits of q (>=2, trailing zeros stripped) — q50, q99, q999, q9999,
    q01, q00, q100. The old ``round(q*100)`` formula collapsed every
    q >= 0.995 to 'q100', so a (0.99, 0.999, 0.9999) tail config — the
    DDSketch design point — produced duplicate struct fields and
    indistinguishable answers."""
    if q >= 1.0:
        return "q100"
    frac = f"{q:.6f}".split(".")[1].rstrip("0")
    return "q" + (frac.ljust(2, "0") if frac else "00")


def quantile_result_fields(quantiles) -> list[tuple[str, str]]:
    """result_fields for a quantile family: one double per quantile plus
    the exact count, with duplicate labels rejected loudly."""
    labels = [quantile_label(q) for q in quantiles]
    dupes = {l for l in labels if labels.count(l) > 1}
    if dupes:
        raise ValueError(
            f"quantiles {tuple(quantiles)} produce duplicate result "
            f"fields {sorted(dupes)}; quantile labels use up to 6 "
            f"fractional digits")
    return [(l, "double") for l in labels] + [("n", "bigint")]


class SketchFamily:
    """Base class; subclasses define ``make`` / ``update`` / ``result``
    and name their ``state_type``, which supplies the rest."""

    name: str = "abstract"
    #: (column name, spark sql type string) of result() output
    result_fields: list[tuple[str, str]] = [("estimate", "bigint")]
    #: the state class: ``merge`` / ``serialize`` / ``deserialize``
    #: delegate to its methods of the same names
    state_type: type

    def prepare_arrow(self, arr) -> Any:
        """Vectorize the whole Arrow column once per batch (e.g. hash it);
        the harness then group-slices the prepared value with numpy
        indices. Return any object supporting ``prepared[indices]``.

        Default: materialize the column as ONE pandas Series per batch
        and slice it per group — state-equal to the pandas fabric by
        construction (update_prepared routes to update()). Families with
        a vectorized hash kernel override both."""
        return _SeriesPrepared(arr.to_pandas())

    def update_prepared(self, state: Any, prepared_slice: Any) -> Any:
        return self.update(state, prepared_slice)

    def make(self) -> Any:
        raise NotImplementedError

    def update(self, state: Any, values: pd.Series) -> Any:
        raise NotImplementedError

    def merge(self, a: Any, b: Any) -> Any:
        a.merge(b)
        return a

    def serialize(self, state: Any) -> bytes:
        return state.serialize()

    def deserialize(self, data: bytes) -> Any:
        return self.state_type.deserialize(bytes(data))

    def result(self, state: Any) -> tuple:
        raise NotImplementedError

    def params(self) -> dict[str, Any]:
        """The public attributes: the family's parameters. Underscore
        attributes are runtime caches (e.g. HllFamily.prepare_arrow
        memoizes ``_arrow_value_type``), so a family instance that has
        run a batch has the same parameters as a pristine one."""
        return {k: v for k, v in vars(self).items() if not k.startswith("_")}

    # -- conveniences shared by the harness ---------------------------------

    def merge_states(self, blobs) -> Any:
        """Merge an iterable of serialized states into one state, or None
        when there is none. None and empty blobs are no-ops
        (`HyperLogLogPlusPlus.java:231-243`: null / empty proto merges
        are ignored)."""
        acc = None
        for b in blobs:
            if b is None or len(b) == 0:
                continue
            s = self.deserialize(bytes(b))
            acc = s if acc is None else self.merge(acc, s)
        return acc

    def merge_serialized(self, blobs) -> bytes:
        """Merge an iterable of serialized states into one blob (an empty
        state when there is none)."""
        acc = self.merge_states(blobs)
        return self.serialize(self.make() if acc is None else acc)


class _HashPrepared:
    """Hashes + validity mask, sliceable by row indices."""

    __slots__ = ("hashes", "valid")

    def __init__(self, hashes: np.ndarray, valid: np.ndarray | None):
        self.hashes = hashes
        self.valid = valid

    def __getitem__(self, idx):
        h = self.hashes[idx]
        if self.valid is None:
            return h
        return h[self.valid[idx]]


class _PairPrepared:
    """A struct<a, b> value's two prepared fields, sliced together."""

    __slots__ = ("a", "b")

    def __init__(self, a, b):
        self.a = a
        self.b = b

    def __getitem__(self, idx):
        return self.a[idx], self.b[idx]


class HllFamily(SketchFamily):
    """HyperLogLog++ approximate COUNT DISTINCT (reference parity core)."""

    name = "hll"
    result_fields = [("estimate", "bigint")]
    state_type = HllSketch

    def __init__(self, precision: int = 15, sparse_precision: int | None = None,
                 no_sparse: bool = False, value_type: str | None = None):
        self.precision = precision
        self.sparse_precision = sparse_precision
        self.no_sparse = no_sparse
        #: declared hash domain for float64 batches: 'long' | 'int' |
        #: 'double' | 'float' | None (auto). Arrow promotes nullable int
        #: columns to float64 on the pandas path, so WITHOUT a declared type
        #: the same bigint key would hash via the UINT64 recipe in
        #: null-free groups and the DOUBLE recipe in null-containing ones —
        #: incompatible states. Call sites that know the Spark schema set
        #: this (see operators.agg.sketch_partial); otherwise integral
        #: float64 batches are treated as promoted longs.
        self.value_type = value_type

    def make(self):
        return HllSketch(precision=self.precision,
                         sparse_precision=self.sparse_precision,
                         no_sparse=self.no_sparse)

    def update(self, state, values: pd.Series):
        had_nulls = bool(values.isna().any())
        values = values.dropna()
        if len(values) == 0:
            return state
        dtype = values.dtype
        if dtype == np.int64 or str(dtype) == "Int64":
            state.add_longs(values.to_numpy(dtype=np.int64))
        elif dtype in (np.int32, np.int16, np.int8) or \
                str(dtype) in ("Int32", "Int16", "Int8"):
            # narrower ints widen into the int32 recipe (the reference's
            # add(int) surface, HyperLogLogPlusPlus.java:337-341)
            state.add_ints(values.to_numpy(dtype=np.int32))
        elif dtype == np.float64 or str(dtype) == "Float64":
            # Arrow promotes int columns to float64 ONLY when the batch
            # contains a null, so float64 + nulls + all-integral is the
            # promotion signature and routes to the int64 domain (the
            # shared rule in hashing.resolve_float64_hash_domain — also
            # used by Bloom's add AND contains paths). A genuinely-double
            # column's residual ambiguity (null + all-integral batch) is
            # resolved by declaring value_type='double' (the operator
            # pipeline pins it from the Spark schema automatically).
            from zetasketch_spark.hashing import resolve_float64_hash_domain

            domain, vals = resolve_float64_hash_domain(
                values.to_numpy(dtype=np.float64), had_nulls, self.value_type)
            {"long": state.add_longs, "int": state.add_ints,
             "float": state.add_floats, "double": state.add_doubles}[domain](vals)
        elif dtype == np.float32 or str(dtype) == "Float32":
            state.add_floats(values.to_numpy(dtype=np.float32))
        elif str(dtype).startswith("datetime64"):
            # hash the epoch-microsecond int64 (matches the arrow fabric,
            # where Spark timestamps arrive as timestamp[us] -> int64)
            state.add_longs(values.to_numpy().astype("datetime64[us]").view(np.int64))
        elif dtype == bool or str(dtype) == "boolean" or (
                dtype == object
                # cheap first-element guard keeps the common string batch
                # at one pass; infer_dtype only confirms all-bool batches
                and isinstance(values.iat[0], (bool, np.bool_))
                and pd.api.types.infer_dtype(values, skipna=True) == "boolean"):
            # canonical bool rendering 'True'/'False' in BOTH fabrics
            # (nullable bool batches arrive as object; plain as bool dtype)
            state.add_strings(values.astype(str))
        else:
            if dtype == object and len(values) and \
                    not isinstance(values.iat[0], (str, bytes)):
                # non-string objects (Decimal, UUID, ...) hash via their
                # canonical str() — was a TypeError in the byte encoder;
                # matches the Arrow fabric's decimal->string cast
                values = values.astype(str)
            state.add_strings(values)
        return state

    def prepare_arrow(self, arr):
        import pyarrow as pa

        from zetasketch_spark.hashing import fingerprint_arrow_array

        typ = arr.type
        # the declared value type must match the hash recipe actually used
        # by fingerprint_arrow_array (dictionary -> its value type;
        # timestamp -> int64 recipe; date32 -> int32 recipe)
        base_t = typ.value_type if pa.types.is_dictionary(typ) else typ
        if pa.types.is_int64(base_t) or pa.types.is_uint64(base_t) \
                or pa.types.is_timestamp(base_t):
            vt = 8  # UINT64
        elif pa.types.is_int32(base_t) or pa.types.is_uint32(base_t) \
                or pa.types.is_date32(base_t):
            vt = 7  # UINT32
        elif pa.types.is_float32(base_t):
            vt = 9  # FLOAT
        elif pa.types.is_float64(base_t):
            vt = 10  # DOUBLE
        else:
            vt = 11  # BYTES_OR_UTF8_STRING
        self._arrow_value_type = vt
        hashes, valid = fingerprint_arrow_array(arr)
        return _HashPrepared(hashes, valid)

    def update_prepared(self, state, hashes):
        if state.value_type == 0:
            state.value_type = getattr(self, "_arrow_value_type", 0)
        state.add_hashes(np.asarray(hashes))
        return state

    def result(self, state) -> tuple:
        return (int(state.estimate()),)


_REGISTRY: dict[str, Callable[..., SketchFamily]] = {}


def register_family(name: str, factory: Callable[..., SketchFamily]) -> None:
    _REGISTRY[name] = factory


def get_family(name: str, **cfg) -> SketchFamily:
    if name not in _REGISTRY:
        # lazily import the module that registers this family
        import importlib

        for mod in ("countmin", "kll", "tdigest", "bloom", "theta",
                    "ddsketch", "freqdirs", "countsketch", "timetheta"):
            importlib.import_module(f"zetasketch_spark.sketches.{mod}")
    if name not in _REGISTRY:
        raise KeyError(f"unknown sketch family {name!r}; known: {sorted(_REGISTRY)}")
    return _REGISTRY[name](**cfg)


register_family("hll", HllFamily)
