"""The pinned numerics must not depend on the CPU's BLAS kernel.

numpy's OpenBLAS, when built with DYNAMIC_ARCH, picks its gemm kernel by
CPU at load time; `OPENBLAS_CORETYPE` forces the choice. This test runs the
OPQ rotation fit and a JPEG encode/decode round trip (baseline and
progressive: the forward and inverse DCT at all four of the codec's sites)
once per core type the CPU supports, each in its own process, and requires
byte-identical output. Before the DCT and the OPQ products went through
`fixed_order_matmul`, the Haswell (FMA) and Sandybridge kernels gave
different OPQ rotations and different JPEG bytes, which is how the
`opq_topk`, `jpeg_decode` and `pdf_images` pins came to pass on some
machines and fail on others.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# OpenBLAS core type -> /proc/cpuinfo flags it needs ("pni" is SSE3)
CORE_TYPES = {
    "Prescott": {"pni"},
    "Sandybridge": {"avx"},
    "Haswell": {"avx2", "fma"},
    "SkylakeX": {"avx512f"},
}


def _dynamic_arch_openblas() -> bool:
    try:
        blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    except (TypeError, KeyError):  # numpy < 1.25 has no mode="dicts"
        return False
    return "DYNAMIC_ARCH=1" in str(blas.get("openblas configuration", ""))


def _supported_core_types() -> list[str]:
    try:
        with open("/proc/cpuinfo") as f:
            flags = next(
                set(line.split(":", 1)[1].split())
                for line in f
                if line.startswith("flags")
            )
    except (OSError, StopIteration):
        return []
    return [name for name, need in CORE_TYPES.items() if need <= flags]


_SWEEP = r"""
import hashlib, json
import numpy as np
from pdf_parser_benchmark_spark.multimodal.jpeg import (
    jpeg_decode, jpeg_encode, jpeg_encode_progressive,
)
from pdf_parser_benchmark_spark.operators.knn import opq_rotation


class Sample:
    # the three DataFrame calls opq_rotation makes to collect its sample
    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def orderBy(self, col):
        return self

    def limit(self, n):
        return Sample(self.rows[:n])

    def collect(self):
        return self.rows


def digest(b):
    return hashlib.sha256(b).hexdigest()


rng = np.random.default_rng(0)
X = rng.standard_normal((500, 64)).astype(np.float32)
R = opq_rotation(
    Sample([{"vec_id": i, "embedding": list(v)} for i, v in enumerate(X)]),
    m=4, dim=64, codes=16, opq_iterations=3,
)
img = np.concatenate([  # 640x16 gray: 40 tiles of repeated sha256 bytes
    np.frombuffer(hashlib.sha256(bytes([i])).digest() * 8, dtype=np.uint8)
    .reshape(16, 16) for i in range(40)
])
base = jpeg_encode(img, quality=85)
prog = jpeg_encode_progressive(img, quality=85)
A = rng.standard_normal((64, 64))
print(json.dumps({
    "opq_rotation": digest(R.tobytes()),
    "jpeg_encode": digest(base),
    "jpeg_decode": digest(jpeg_decode(base).tobytes()),
    "jpeg_encode_progressive": digest(prog),
    "jpeg_decode_progressive": digest(jpeg_decode(prog).tobytes()),
    "control_blas_matmul": digest((A @ A.T @ A).tobytes()),
}))
"""


@pytest.mark.skipif(
    not _dynamic_arch_openblas() or len(_supported_core_types()) < 2,
    reason="needs numpy on a DYNAMIC_ARCH OpenBLAS and a CPU with at "
    "least two of the swept x86 core types",
)
def test_pinned_numerics_identical_under_every_blas_kernel():
    runs = {}
    for core in _supported_core_types():
        env = dict(os.environ, OPENBLAS_CORETYPE=core, OPENBLAS_NUM_THREADS="1")
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        out = subprocess.run(
            [sys.executable, "-c", _SWEEP], env=env, cwd=ROOT,
            capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, (core, out.stderr[-2000:])
        runs[core] = json.loads(out.stdout.strip().splitlines()[-1])

    control = {r.pop("control_blas_matmul") for r in runs.values()}
    if {"Prescott", "Haswell"} <= runs.keys():
        # FMA vs no FMA: if even a plain BLAS product agrees, the sweep did
        # not reach the kernel choice and the comparison below shows nothing
        assert len(control) > 1, "OPENBLAS_CORETYPE did not change the kernel"
    first, *rest = runs
    diffs = {
        core: sorted(k for k in runs[first] if runs[core][k] != runs[first][k])
        for core in rest
    }
    assert not any(diffs.values()), f"outputs that differ from {first}'s: {diffs}"
