"""Frequent Directions: a mergeable matrix sketch over embedding columns
(Liberty, KDD 2013; Ghashami, Liberty, Phillips, Woodruff, SIAM
J. Comput. 2016 — "Frequent Directions: Simple and Deterministic Matrix
Sketching").

The missing sketch class in the family set: HLL/theta summarize SETS,
Count-Min summarizes FREQUENCIES, KLL/t-digest/DDSketch summarize
DISTRIBUTIONS — FD summarizes a MATRIX. For a 100 TB table with an
``array<float>`` embedding column, one pass produces a tiny ``ell x dim``
sketch ``B`` whose Gram matrix approximates the data's:

    0  <=  A^T A - B^T B  <=  shrink_total * I,   shrink_total <= |A|_F^2 / ell

(PSD order; ``shrink_total`` is the exact sum of shrink deltas the sketch
performed, carried in the state as a per-instance certificate). That is
the covariance/PCA summary a training-data pipeline wants — embedding
drift detection, dominant-direction extraction, whitening statistics —
without ever materializing the n x n or even the full n x dim data on one
machine.

Why it fits this library's contract exactly:

* **mergeable** — appending one sketch's rows into another and
  re-shrinking preserves the SAME bound (the Frobenius-mass accounting
  below is global: every unit of removed mass traces to input mass), so
  the standard harness (per-partition partials -> associative merge,
  ``operators/agg.py``) distributes it like any other family. Merge is
  associative at the GUARANTEE level: unlike HLL (register-max) the
  bytes depend on merge order, like t-digest; the certificate inequality
  holds for every order.
* **bounded state** — ``2*ell x dim`` float64 buffer, independent of row
  count; the shuffle stays O(keys x partitions x ell x dim).
* **self-certifying** — the state carries ``n``, ``frob2`` (exact input
  mass) and ``shrink_total`` (exact accumulated deltas), so a gate query
  can assert the THEOREMS (PSD order, error <= certificate, certificate
  <= |A|_F^2/ell) against an exactly-computed Gram matrix at test scale
  — booleans that hold under any partitioning / merge order, which is
  what the hostile-environment replay requires.

Algorithm (the buffered "Fast-FD" variant, batch-sized shrinks): keep a
``2*ell``-row resident buffer; when an ingest call would overflow it,
accumulate the call's ``dim x dim`` Gram matrix — ``buf^T buf`` plus one
float64 DGEMM per cache-sized chunk of the new rows, float32 input cast
per chunk — ``eigh`` it once (the squared singular values ARE its
eigenvalues), set ``delta = sigma_{ell+1}^2``, shrink every squared
singular value by ``delta`` (clipping at 0) and keep the surviving
``<= ell`` rows as ``diag(sigma') V^T``. The guarantee is
batch-size-independent: each shrink removes at least ``(ell+1) * delta``
of Frobenius mass (directions 1..ell+1 all lose a full ``delta``), so
``ell * sum(delta) <= |A|_F^2`` — the bound above — while each shrink
perturbs the Gram matrix by at most ``delta * I``; fewer shrinks per
call only make ``sum(delta)`` (the certificate) smaller.

No reference analog: google/zetasketch is HLL-only; FD implements the
same Aggregator contract (``Aggregator.java:31-106``) through
``SketchFamily`` so every execution fabric picks it up unchanged.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from zetasketch_spark.sketches.base import SketchFamily, register_family
from zetasketch_spark.sketches.wire import Reader, pack_header

_MAGIC = b"FDS2"  # trailing digit = layout generation (wire.py convention)
_ENCODING_VERSION = 1


class FrequentDirections:
    __slots__ = ("ell", "dim", "buf", "n_buf", "n", "frob2",
                 "shrink_total", "encoding_version")

    def __init__(self, ell: int = 32, dim: int | None = None):
        if ell < 1:
            raise ValueError(f"ell must be >= 1, got {ell}")
        self.ell = int(ell)
        self.dim = int(dim) if dim is not None else None
        # buffer allocated lazily: dim is usually pinned by the first batch
        self.buf = (np.zeros((2 * self.ell, self.dim))
                    if self.dim is not None else None)
        self.n_buf = 0          # occupied buffer rows
        self.n = 0              # input rows absorbed (exact)
        self.frob2 = 0.0        # |A|_F^2, exact input mass
        self.shrink_total = 0.0  # sum of shrink deltas: the certificate
        self.encoding_version = _ENCODING_VERSION

    # -- internals -----------------------------------------------------------

    def _pin_dim(self, dim: int) -> None:
        if self.dim is None:
            self.dim = int(dim)
            self.buf = np.zeros((2 * self.ell, self.dim))
        elif self.dim != dim:
            raise ValueError(
                f"FrequentDirections was pinned to dim={self.dim} by its "
                f"first batch; got a row of dim={dim} — ragged embedding "
                f"columns cannot share one sketch")

    def _shrink_gram(self, g: np.ndarray) -> None:
        """One shrink step given the dim x dim Gram matrix of the
        resident rows stacked with ALL new rows of the call: eigh once,
        subtract ``delta = sigma_{ell+1}^2`` from every squared singular
        value (clip at 0), keep the survivors as ``diag(sigma') V^T``.
        Afterwards ``n_buf <= ell`` (rank > ell implies delta > 0, which
        zeroes directions ell+1..; rank <= ell leaves at most ell). The
        guarantee is batch-size-independent: every shrink removes at
        least ``(ell+1)*delta`` Frobenius mass (the top ell+1 squared
        singular values each lose a full delta) while perturbing the
        Gram matrix by at most ``delta * I`` — so one shrink over a
        whole ingest call keeps the identical bound (with FEWER, hence
        smaller-sum, deltas than per-buffer-fill shrinking) and needs
        only the Gram, never the stacked rows.

        The decomposition runs on the Gram (accumulated by the caller
        as one DGEMM per cache-sized chunk) instead of an SVD of the
        tall stack: the squared singular values ARE the Gram eigenvalues
        and the right singular vectors its eigenvectors — exactly the
        quantities the shrink uses — at a fraction of the LAPACK cost
        and memory traffic, which is the difference between the sketch
        keeping up with a parquet scan and not. Rounding can produce
        tiny negative eigenvalues; they clip to 0 like any fully-shrunk
        direction."""
        w, v = np.linalg.eigh(g)            # ascending
        s2 = np.maximum(w[::-1], 0.0)       # descending squared singulars
        vt = v[:, ::-1].T                   # matching right singular vecs
        delta = float(s2[self.ell]) if len(s2) > self.ell else 0.0
        if delta > 0.0:
            self.shrink_total += delta
        s2 = np.maximum(s2 - delta, 0.0)
        keep = s2 > 0.0
        kept = np.sqrt(s2[keep])[:, None] * vt[keep]
        self.n_buf = kept.shape[0]
        self.buf[:self.n_buf] = kept
        self.buf[self.n_buf:] = 0.0

    def _append_rows(self, x: np.ndarray, count_mass: bool) -> None:
        """Ingest a row batch. Rows that fit in the resident buffer are
        stored verbatim; otherwise the call's Gram matrix is accumulated
        (``buf^T buf`` plus one float64 DGEMM per ~8 MB chunk of ``x`` —
        float32 input is cast per chunk, never wholesale, so the memory
        traffic stays near the input's own footprint) and shrunk ONCE.

        ``count_mass`` is True for raw input rows (they add to ``n`` /
        ``frob2``) and False for another sketch's buffer rows during a
        merge (their ORIGINAL input mass was already counted by that
        sketch's own counters, which ``merge`` sums separately)."""
        if x.size == 0:
            return
        if x.ndim != 2:
            raise ValueError(f"expected a 2-D row batch, got shape {x.shape}")
        self._pin_dim(x.shape[1])
        if not np.isfinite(x).all():
            raise ValueError(
                "FrequentDirections cannot absorb non-finite rows (a NaN/"
                "inf coordinate would corrupt the Gram-matrix guarantee)")
        if count_mass:
            self.n += x.shape[0]
            # dtype pin: einsum on a float32 batch would otherwise
            # accumulate |A|_F^2 in float32 and lose the 'exact mass'
            # claim the certificate divides by
            self.frob2 += float(np.einsum("ij,ij->", x, x,
                                          dtype=np.float64))
        cap = self.buf.shape[0]
        n_rows = x.shape[0]
        if n_rows <= cap - self.n_buf:
            # fits in the resident buffer (upcast on assignment is fine)
            self.buf[self.n_buf:self.n_buf + n_rows] = x
            self.n_buf += n_rows
            return
        m = self.buf[:self.n_buf]
        g = m.T @ m
        chunk = max(1, (1 << 20) // max(self.dim, 1))
        for i in range(0, n_rows, chunk):
            c = x[i:i + chunk]
            if c.dtype != np.float64:
                c = c.astype(np.float64)
            g += c.T @ c
        self._shrink_gram(g)

    # -- contract --------------------------------------------------------

    def add_matrix(self, x: np.ndarray) -> None:
        """Absorb a float row batch of shape ``(rows, dim)``. float32
        stays float32 until the per-chunk DGEMM cast in ``_append_rows``
        — upcasting a whole Arrow batch here would double the hot
        path's memory traffic for no precision gain (the Gram itself is
        always accumulated in float64)."""
        if x.dtype not in (np.float32, np.float64):
            x = np.ascontiguousarray(x, dtype=np.float64)
        else:
            x = np.ascontiguousarray(x)
        self._append_rows(x, count_mass=True)

    def merge(self, other: "FrequentDirections") -> None:
        if self.ell != other.ell:
            raise ValueError(
                f"cannot merge FrequentDirections(ell={self.ell}) with "
                f"FrequentDirections(ell={other.ell})")
        if other.dim is None:
            return  # empty sketch: nothing to fold in
        self._pin_dim(other.dim)
        self._append_rows(other.buf[:other.n_buf].astype(np.float64,
                                                         copy=False),
                          count_mass=False)
        self.n += other.n
        self.frob2 += other.frob2
        self.shrink_total += other.shrink_total

    def sketch_matrix(self) -> np.ndarray:
        """The current ``(<= 2*ell) x dim`` sketch rows ``B`` (a copy)."""
        if self.dim is None:
            return np.zeros((0, 0))
        return self.buf[:self.n_buf].copy()

    def gram(self) -> np.ndarray:
        """``B^T B`` — the sketched Gram/covariance summary satisfying
        ``0 <= A^T A - B^T B <= shrink_total * I`` (PSD order)."""
        if self.dim is None:
            return np.zeros((0, 0))
        b = self.buf[:self.n_buf]
        return b.T @ b

    def error_certificate(self) -> float:
        """Per-instance upper bound on ``|A^T A - B^T B|_2``: the exact
        sum of the deltas this state's shrinks performed. Always
        ``<= error_bound()``, usually far smaller."""
        return self.shrink_total

    def error_bound(self) -> float:
        """The paper's a-priori bound ``|A|_F^2 / ell``."""
        return self.frob2 / self.ell if self.ell else float("inf")

    def top_directions(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Top-``k`` (squared singular values, right singular vectors) of
        the sketch — the approximate principal directions of the data.
        Returns ``(s2[k], V[k, dim])``."""
        if self.dim is None or self.n_buf == 0:
            return np.zeros(0), np.zeros((0, self.dim or 0))
        _, s, vt = np.linalg.svd(self.buf[:self.n_buf],
                                 full_matrices=False)
        k = min(k, len(s))
        return (s[:k] * s[:k], vt[:k])

    # -- serde -------------------------------------------------------------

    def serialize(self) -> bytes:
        dim = self.dim if self.dim is not None else -1
        head = struct.pack("<iiqiqdd", self.ell, dim, self.n, self.n_buf,
                           0, self.frob2, self.shrink_total)
        rows = (self.buf[:self.n_buf].astype(np.float64).tobytes()
                if self.dim is not None else b"")
        return pack_header(_MAGIC, _ENCODING_VERSION) + head + rows

    @classmethod
    def deserialize(cls, data: bytes) -> "FrequentDirections":
        r = Reader(data, _MAGIC, "FrequentDirections")
        ell, dim, n, n_buf, _pad, frob2, shrink_total = r.unpack("<iiqiqdd")
        # validate the header BEFORE allocating anything from it: a torn
        # write or bit-flip must raise, never trigger a huge zeros()
        # allocation or a silently-corrupt state (the torn-write contract
        # every family carries, tests/test_sketches.py fuzz suites)
        if ell < 1:
            raise ValueError(f"FrequentDirections blob claims ell={ell}")
        if (dim < -1 or n_buf < 0 or (dim >= 0 and n_buf > 2 * ell)
                or (dim < 0 and n_buf != 0)):
            raise ValueError("inconsistent FrequentDirections blob header")
        if dim >= 0 and 2 * ell * max(dim, 1) > (1 << 27):
            raise ValueError(
                "implausible FrequentDirections header (buffer would be "
                f"{2 * ell} x {dim} floats)")
        if not (n >= 0 and frob2 >= 0.0 and shrink_total >= 0.0):
            raise ValueError("corrupt FrequentDirections counters")
        rows = r.array(np.float64, n_buf * dim)  # n_buf = 0 when dim = -1
        sk = cls(ell=ell, dim=dim if dim >= 0 else None)
        sk.encoding_version = r.version  # trailing bytes ignored
        sk.n = n
        sk.frob2 = frob2
        sk.shrink_total = shrink_total
        if n_buf:
            sk.buf[:n_buf] = rows.reshape(n_buf, dim)
            sk.n_buf = n_buf
        return sk


def gram_drift(a: FrequentDirections,
               b: FrequentDirections) -> tuple[float, float]:
    """Embedding-drift score between two sketched datasets: the spectral
    distance between their row-normalized Gram (second-moment) matrices,

        D = | A^T A / n_a  -  B^T B / n_b |_2

    estimated from the sketches alone, plus a per-call error bound. By
    the triangle inequality and each state's own certificate,

        | D_hat - D |  <=  cert_a / n_a  +  cert_b / n_b,

    so the caller can decide "drifted / not drifted vs threshold t"
    soundly: D_hat > t + bound proves drift, D_hat < t - bound proves
    none, anything between is honestly inconclusive. This is the
    monitoring primitive for a training-data pipeline: sketch each day's
    embedding table (one pass, tiny state), store states in a
    SketchTable, and compare any two days without touching the data
    again. Returns ``(estimate, error_bound)``."""
    if a.dim is None or b.dim is None or a.n == 0 or b.n == 0:
        raise ValueError("gram_drift needs two non-empty sketches")
    if a.dim != b.dim:
        raise ValueError(
            f"cannot compare embeddings of dim {a.dim} vs {b.dim}")
    diff = a.gram() / a.n - b.gram() / b.n
    est = float(np.linalg.norm(diff, 2))
    bound = a.error_certificate() / a.n + b.error_certificate() / b.n
    return est, bound


def _stack_rows(values: pd.Series) -> np.ndarray:
    """A pandas Series of array-typed cells (numpy arrays / lists from an
    Arrow ``list<float>`` column) -> one float64 matrix, nulls dropped
    (SQL aggregate semantics)."""
    vals = values.dropna()
    if len(vals) == 0:
        return np.zeros((0, 0))
    return np.array(vals.to_list(), dtype=np.float64)


class _PandasRows:
    """Fallback prepared form: positional slices of a pandas Series of
    array cells (used only for Arrow types the flat-buffer path doesn't
    cover)."""

    __slots__ = ("series",)

    def __init__(self, series: pd.Series):
        self.series = series.reset_index(drop=True)

    def __getitem__(self, idx):
        return self.series.iloc[np.asarray(idx)]


class _ArrowRows:
    """Prepared form of an Arrow ``list<float>`` batch for the
    ``mapInArrow`` fast fabric: the flat child-values buffer plus per-row
    starts — row gathers are one fancy index, no per-cell Python objects
    ever exist. ``[idx]`` returns the selected valid rows as a float64
    matrix (nulls dropped, SQL aggregate semantics)."""

    __slots__ = ("flat", "starts", "dim", "valid")

    def __init__(self, flat, starts, dim, valid):
        self.flat = flat
        self.starts = starts
        self.dim = dim
        self.valid = valid

    def __getitem__(self, idx):
        if self.dim == 0:
            return np.zeros((0, 0))
        idx = np.asarray(idx)
        sel = idx[self.valid[idx]]
        if sel.size == 0:
            return np.zeros((0, self.dim))
        gather = self.starts[sel][:, None] + np.arange(self.dim)
        return self.flat[gather]


def _prepare_list_array(arr) -> _ArrowRows:
    import pyarrow as pa

    n = len(arr)
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.values.to_numpy(zero_copy_only=False)
    if flat.dtype not in (np.float32, np.float64):
        flat = flat.astype(np.float64)  # int/decimal child: one honest cast
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
    else:
        valid = np.ones(n, dtype=bool)
    lengths = np.diff(offsets)[valid] if n else np.zeros(0, dtype=np.int64)
    if lengths.size == 0:
        return _ArrowRows(flat, offsets[:-1], 0, valid)
    dim = int(lengths[0])
    if not (lengths == dim).all():
        raise ValueError(
            "ragged embedding column: FrequentDirections needs every "
            "non-null row to share one dimension")
    return _ArrowRows(flat, offsets[:-1], dim, valid)


class FreqDirsFamily(SketchFamily):
    """Matrix sketching through the shared aggregation harness.

    The value column is ``array<float|double>`` (one embedding per row).
    ``result()`` reports the exact row count, the pinned dimension, and
    the two error numbers (certificate + a-priori bound) — the
    order-independent facts; per-direction output goes through
    ``top_directions`` on a deserialized state (see
    ``__spark_entry__.q_embedding_norms`` for the gate pattern)."""

    name = "freqdirs"
    state_type = FrequentDirections
    result_fields = [("n", "bigint"), ("dim", "int"),
                     ("err_certificate", "double"),
                     ("err_bound", "double")]

    def __init__(self, ell: int = 32):
        self.ell = int(ell)

    def prepare_arrow(self, val):
        import pyarrow as pa

        if isinstance(val, pa.ChunkedArray):
            val = val.combine_chunks()
        if pa.types.is_list(val.type) or pa.types.is_large_list(val.type):
            return _prepare_list_array(val)
        # anything else (e.g. fixed_size_list) takes the generic row path
        return _PandasRows(val.to_pandas())

    def update_prepared(self, state, rows):
        if not isinstance(rows, np.ndarray):
            rows = _stack_rows(rows)
        if rows.size:
            state.add_matrix(rows)
        return state

    def make(self):
        return FrequentDirections(ell=self.ell)

    def update(self, state, values):
        rows = _stack_rows(values)
        if rows.size:
            state.add_matrix(rows)
        return state

    def result(self, state):
        return (int(state.n), int(state.dim or 0),
                float(state.error_certificate()),
                float(state.error_bound()))


register_family("freqdirs", FreqDirsFamily)
