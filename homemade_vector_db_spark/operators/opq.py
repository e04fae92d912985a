"""OPQ — Optimized Product Quantization (rotated PQ).

Ge et al., "Optimized Product Quantization for Approximate Nearest
Neighbor Search" (CVPR 2013), parametric variant: learn an ORTHOGONAL
rotation R that decorrelates the data and balances variance across the
m PQ subspaces, quantize in the rotated frame. This is the pre-rotation
FAISS exposes as `OPQMatrix` in front of a PQ index. Squared-L2 is
invariant under orthogonal maps, so exact distances — and therefore the
recall gates — are directly comparable between the original and rotated
frames; the rotation only changes how quantization ERROR distributes
across subspaces.

Composition over existing kernels (no new distributed machinery):

1. `pca.fit_pca(..., dim_out=dim)` — full-rank PCA on the deterministic
   hash-ordered sample: mean + orthonormal components + singular values.
2. Eigenvalue-balanced subspace allocation (the paper's parametric
   solution under a Gaussian assumption): greedily assign principal
   directions, largest variance first, to the subspace with the
   smallest current log-variance PRODUCT that still has a free slot —
   equalizing per-subspace variance products minimizes the summed
   quantization distortion bound. The resulting row permutation of the
   PCA basis IS the rotation.
3. `pca.project` — the rotated corpus, distributed (codegen or Arrow
   tier by kernel width, no shuffle).
4. `pq.build_pq` on the rotated vectors — driver-sample Lloyd training,
   distributed encode, unchanged.

Search rotates the query driver-side (one gemv) and runs the standard
PQ ADC kernel — per-query cost is identical to plain PQ.

Reference parity note: the reference stores raw vectors and delegates
quantization to FAISS (local_db.py:49-52); OPQ is part of the
compression tier layered beyond it (with PQ/SQ8/BQ/IVF-PQ). On this
fixture's near-isotropic unit vectors OPQ ≈ PQ by construction (there
is no covariance structure to exploit); the win appears on anisotropic
real embedding spaces, which is exactly when FAISS recommends OPQ.

Scale: training is O(sample) driver-side (the FAISS strategy); rotation
and encoding are scan-side distributed passes; ADC search is the PQ
kernel. Nothing here shuffles beyond what PQ already does.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from homemade_vector_db_spark.operators import pca, pq
from homemade_vector_db_spark.operators.tier import vector_dim


@dataclass
class Rotated:
    """A PQ or IVF-PQ index trained and encoded in a learned rotated
    frame: the FAISS `OPQMatrix` ahead of a PQ index (IndexPreTransform).
    Everything downstream of the rotation is the inner index unchanged —
    coarse assignment, residual encoding, ADC, save layout. The wrapper
    adds one distributed rotate pass at build/add time and one
    driver-side gemv per query. Squared-L2 is invariant under the
    orthogonal map, so the exact rerank runs on the RAW vectors in the
    original frame and recall gates compare against exact search there.

    Reference parity: /root/reference/local_db.py:49-52 delegates its
    index to FAISS, whose recommended recipe for anisotropic embedding
    spaces is exactly OPQ{m},PQ{m} or OPQ{m}+IVF{nlist},PQ{m}."""

    inner: "pq.PQIndex | pq.IVFPQIndex"  # vec_col '__rot'
    mean: np.ndarray  # [dim] — sample mean removed before rotation
    rotation: np.ndarray  # [dim, dim] orthogonal (permuted PCA basis)
    vec_col: str  # the original-frame vector column

    def __post_init__(self):
        self.mean = np.asarray(self.mean, dtype="float64")
        self.rotation = np.asarray(self.rotation, dtype="float64")

    @property
    def id_col(self) -> str:
        return self.inner.id_col

    @property
    def dim(self) -> int:
        return self.inner.dim


def balanced_allocation(variances: Sequence[float], m: int) -> list[int]:
    """Greedy eigenvalue-balanced assignment of `len(variances)`
    principal directions to m equal-width subspaces: directions in
    descending variance, each to the subspace with the smallest current
    log-variance product among those with free slots (Ge et al. §4's
    balance criterion). Returns, per direction index (in the given
    order), its subspace. Deterministic: ties break on subspace index."""
    d = len(variances)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m {m}")
    cap = d // m
    order = sorted(range(d), key=lambda i: (-float(variances[i]), i))
    load = [0.0] * m  # running sum of log-variances
    slots = [0] * m
    assign = [0] * d
    for i in order:
        j = min(
            (j for j in range(m) if slots[j] < cap),
            key=lambda j: (load[j], j),
        )
        assign[i] = j
        # log of a zero/negative-noise variance: floor tiny values so a
        # degenerate direction doesn't produce -inf and absorb a slot set
        load[j] += float(np.log(max(float(variances[i]), 1e-30)))
        slots[j] += 1
    return assign


def learn_rotation(
    df: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[np.ndarray, np.ndarray]":
    """(mean[dim], rotation[dim, dim]) — the parametric-OPQ rotation:
    full-rank PCA on the deterministic hash-ordered sample, then the
    eigenvalue-balanced row permutation that equalizes per-subspace
    variance products (Ge et al. §4). Shared by the flat OPQ tier and
    the IVF-OPQ composition — one definition of the geometry law."""
    mean, comps, svals = pca.fit_pca(
        df, dim, dim, id_col=id_col, vec_col=vec_col,
        return_singular_values=True,
    )
    # With fewer sample rows than dim, SVD returns min(n, dim) components
    # — a rectangular basis that would project vectors SHORTER than dim
    # and break the downstream PQ subspace slicing in non-obvious ways
    # (ADVICE r12). Fail loud instead.
    if comps.shape != (dim, dim):
        raise ValueError(
            f"need at least {dim} sample vectors to learn a full-rank "
            f"OPQ rotation (PCA returned {comps.shape[0]} components of "
            f"width {comps.shape[1]})"
        )
    # per-direction sample variances ∝ squared singular values
    assign = balanced_allocation((svals ** 2).tolist(), m)
    # rotation rows grouped by subspace: subspace j's block holds its
    # directions in descending variance (stable within the greedy order)
    perm = [
        i
        for j in range(m)
        for i in sorted(
            (i for i in range(dim) if assign[i] == j),
            key=lambda i: (-float(svals[i]), i),
        )
    ]
    return mean, comps[perm]


def rotate(
    df: DataFrame,
    mean: np.ndarray,
    rotation: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "__rot",
) -> DataFrame:
    """(id, out_col) with out_col = R(x − mean): the distributed
    OPQMatrix apply (pca.project — codegen or Arrow-gemm tier by kernel
    width, zero shuffles). One definition shared by build/add/search
    paths of both OPQ tiers."""
    return pca.project(
        df.select(id_col, vec_col), mean, rotation,
        vec_col=vec_col, out_col=out_col,
    ).select(id_col, out_col)


def build_opq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    codebook_size: int = 256,
    dim: int | None = None,
    seed: int = 42,
    cache: bool = True,
) -> Rotated:
    """learn_rotation → distributed rotate → pq.build_pq on the rotated
    vectors (driver-sample Lloyd training, distributed encode)."""
    dim = vector_dim(df, vec_col, dim)
    mean, rotation = learn_rotation(df, m, dim, id_col, vec_col)
    inner = pq.build_pq(
        rotate(df, mean, rotation, id_col, vec_col), id_col=id_col,
        vec_col="__rot", m=m, codebook_size=codebook_size, dim=dim,
        seed=seed, cache=cache,
    )
    return Rotated(inner, mean, rotation, vec_col)


def build_ivfopq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 100,
    m: int = 8,
    codebook_size: int = 256,
    dim: int | None = None,
    seed: int = 42,
    cache: bool = True,
) -> Rotated:
    """learn_rotation → distributed rotate → ann.build_ivf on the
    rotated corpus → pq.build_ivfpq residual codebooks, all reused
    kernels. Training cost is O(sample) driver-side (rotation SVD +
    coarse Lloyd + residual Lloyd, the FAISS strategy); the corpus pays
    one rotate+assign+encode scan."""
    from homemade_vector_db_spark.operators import ann

    dim = vector_dim(df, vec_col, dim)
    mean, rotation = learn_rotation(df, m, dim, id_col, vec_col)
    ivf = ann.build_ivf(
        rotate(df, mean, rotation, id_col, vec_col), id_col=id_col,
        vec_col="__rot", nlist=nlist, seed=seed, cache=False,
    )
    inner = pq.build_ivfpq(
        ivf, m=m, codebook_size=codebook_size, dim=dim, seed=seed,
        cache=cache,
    )
    return Rotated(inner, mean, rotation, vec_col)


# the inner tier's (search, add) — both operate in the rotated frame
_INNER_OPS = {
    pq.PQIndex: (pq.pq_search, pq.pq_add),
    pq.IVFPQIndex: (pq.ivfpq_search, pq.ivfpq_add),
}


def rotated_search(
    index: Rotated, query: Sequence[float], k: int = 10, **kw
) -> DataFrame:
    """Rotate the query driver-side (one gemv — the FAISS OPQMatrix
    apply), then the inner tier's ADC search (`kw`: its nprobe /
    score_decimals) — per-query cost identical to the unrotated tier."""
    q = np.asarray(list(query), dtype="float64")
    qr = (index.rotation @ (q - index.mean)).tolist()
    search, _ = _INNER_OPS[type(index.inner)]
    return search(index.inner, qr, k=k, **kw)


def rotated_add(index: Rotated, new_df: DataFrame) -> Rotated:
    """Add-after-train: rotate the batch with the FROZEN rotation, then
    the inner tier's add (frozen cells and codebooks). One distributed
    rotate + encode pass over the new rows only."""
    rotated = rotate(
        new_df, index.mean, index.rotation, index.id_col, index.vec_col
    )
    _, add = _INNER_OPS[type(index.inner)]
    return replace(index, inner=add(index.inner, rotated))
