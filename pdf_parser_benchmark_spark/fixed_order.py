"""Matrix products whose every bit depends on the operands alone.

numpy's `@` hands float matrices to BLAS. A `DYNAMIC_ARCH` OpenBLAS picks
its gemm kernel by CPU when it loads, and the kernels sum in different
orders, some with fused multiply-add, so `A @ B` can differ in the last
bit from one machine to the next. A result that is then rounded
(`np.round` in the JPEG DCT) or argmin'd (OPQ's PQ assignment) changes
with the CPU, and so does every pinned oracle downstream of it
(`tests/test_blas_kernel_sweep.py` runs the codec and the OPQ fit once per
OpenBLAS core type and compares the bytes).

`fixed_order_matmul` is the one product the pinned paths use instead: the
rank-1 updates A[:, k] ⊗ B[k, :] added in index order, each term one IEEE
multiply and one IEEE add (numpy element-wise ufuncs, which never fuse).
It is the discipline `operators.knn._np_fold` follows for dot products.
"""

from __future__ import annotations

import numpy as np


def fixed_order_matmul(A, B) -> np.ndarray:
    """A @ B for A (..., n, k) and B (..., k, m), leading axes broadcast,
    dtype by numpy promotion (float32 × float32 stays float32). out[i, j]
    = ((A[i,0]·B[0,j] + A[i,1]·B[1,j]) + A[i,2]·B[2,j]) + ..., rounded
    after every multiply and every add."""
    A, B = np.asarray(A), np.asarray(B)
    if A.shape[-1] != B.shape[-2]:
        raise ValueError(f"matmul shapes {A.shape} and {B.shape} do not chain")
    out = A[..., :, :1] * B[..., :1, :]
    for k in range(1, A.shape[-1]):
        out += A[..., :, k : k + 1] * B[..., k : k + 1, :]
    return out
