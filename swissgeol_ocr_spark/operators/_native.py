"""Build-on-first-import loader for the native reading-order kernel
(operators/_readingorder.c) — ctypes, no build system, no new runtime
dependency.

The shared object is compiled ONCE per source hash into a cache directory
(``$SPARK_GRAFT_NATIVE_DIR``, default ``~/.cache/swissgeol_ocr_spark``)
with an atomic rename, so the 32 executor-side Python workers that import
this module concurrently either find the cached build or race benignly
(each compiles to a unique temp file; the rename is idempotent). Any
failure — no compiler, read-only cache, load error — logs one warning
per process on the ``swissgeol_ocr_spark.native`` logger (with gcc's
stderr when the compile failed) and degrades to
``available() == False``; callers keep the numpy path, which is
semantically identical (pinned by
tests/test_readingorder.py::test_native_matches_numpy_random and the
golden/twin suites, which exercise whichever path is active).

Float fidelity: compiled with ``-ffp-contract=off
-fno-unsafe-math-optimizations`` so no FMA contraction can round an
expression once where numpy rounds twice; every predicate in the C file
keeps the numpy expression shapes.

Kill switch: ``SPARK_GRAFT_NO_NATIVE=1`` disables the native path
entirely (useful for differential debugging and as an operational
escape hatch).
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile

import numpy as np

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_readingorder.c")

_CFLAGS = [
    "-O2",
    "-shared",
    "-fPIC",
    "-ffp-contract=off",
    "-fno-unsafe-math-optimizations",
]

_lib: "ctypes.CDLL | None | bool" = None  # None = not tried, False = failed

_log = logging.getLogger("swissgeol_ocr_spark.native")


def _cache_dir() -> str:
    return os.environ.get(
        "SPARK_GRAFT_NATIVE_DIR",
        os.path.join(os.path.expanduser("~"), ".cache", "swissgeol_ocr_spark"),
    )


def _build_and_load() -> "ctypes.CDLL | None":
    if os.environ.get("SPARK_GRAFT_NO_NATIVE"):
        return None
    try:
        with open(_SRC, "rb") as f:
            src = f.read()
        tag = hashlib.sha256(src).hexdigest()[:16]
        cache = _cache_dir()
        so_path = os.path.join(cache, f"_readingorder_{tag}.so")
        if not os.path.exists(so_path):
            os.makedirs(cache, exist_ok=True)
            fd, tmp = tempfile.mkstemp(suffix=".so", dir=cache)
            os.close(fd)
            try:
                subprocess.run(
                    ["gcc", *_CFLAGS, "-o", tmp, _SRC, "-lm"],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                os.rename(tmp, so_path)  # atomic; concurrent builders race benignly
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        lib = ctypes.CDLL(so_path)
        fn = lib.sgs_sort_lines
        fn.restype = ctypes.c_int
        fn.argtypes = [
            ctypes.POINTER(ctypes.c_double),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_int),
            ctypes.POINTER(ctypes.c_int),
        ]
        return lib
    except Exception as exc:
        # once per process: available() caches the failure in _lib
        stderr = getattr(exc, "stderr", None)
        if isinstance(stderr, bytes):
            stderr = stderr.decode(errors="replace")
        _log.warning(
            "native reading-order kernel unavailable, using the numpy path: %r%s",
            exc,
            f"\ngcc stderr:\n{stderr.strip()}" if stderr else "",
        )
        return None


def available() -> bool:
    global _lib
    if _lib is None:
        _lib = _build_and_load() or False
    return _lib is not False


def native_sort_lines(rects: np.ndarray) -> "list[list[int]] | None":
    """Native twin of readingorder.sort_lines_indices; None when the
    native library is unavailable (callers fall back to numpy)."""
    if not available():
        return None
    r = np.ascontiguousarray(rects, dtype=np.float64).reshape(-1, 4)
    n = r.shape[0]
    if n == 0:
        return []
    out_lines = np.empty(n, dtype=np.int32)
    out_offsets = np.empty(n + 1, dtype=np.int32)
    nb = _lib.sgs_sort_lines(
        r.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
        n,
        out_lines.ctypes.data_as(ctypes.POINTER(ctypes.c_int)),
        out_offsets.ctypes.data_as(ctypes.POINTER(ctypes.c_int)),
    )
    if nb < 0:
        return None
    return [
        out_lines[out_offsets[k] : out_offsets[k + 1]].tolist() for k in range(nb)
    ]
