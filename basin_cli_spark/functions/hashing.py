"""Keccak-256 (from the public Keccak/FIPS-202 specification) and file
hashing.

The reference hashes every upload with keccak256 over 4 KB chunks before
signing (reference pkg/signing/signing.go:34-108).  Python's hashlib sha3
uses the FIPS-202 padding (0x06); Ethereum-style keccak256 uses the original
Keccak padding (0x01), and the system OpenSSL (3.0) has no KECCAK-256, so
it is implemented here directly — permutation and constants are from the
published spec.

Two kernels absorb whole 136-byte blocks; `Keccak256` keeps the buffering,
padding and digest logic and hands every run of full blocks to one kernel
call:

* native — Keccak-f[1600] in C (`_C_SOURCE`), built with cffi in API mode
  the first time a digest is taken.  The extension is cached under
  ``$XDG_CACHE_HOME/basin_cli_spark`` (``~/.cache`` when unset), named by a
  hash of the C source, the cffi version and the interpreter's ABI tag.  A
  child Python process compiles it, because cffi's build changes the
  working directory, which every thread of the caller shares.  It builds
  in a temporary directory and the result is moved into place with
  ``os.replace``, so a concurrent first use never loads a half-written
  file; within one process a lock lets only the first caller build.  cffi
  releases the GIL for the call, so threads hash in parallel.
* python — the pure-Python `_keccak_f`, used when the native build or its
  import fails (no compiler, no cffi, read-only cache).  It is also the
  reference the tests compare the native kernel against.

`keccak_backend()` names the kernel in use and, for the fallback, why.

A vectorized Pandas UDF wrapper (`keccak256_udf`) exposes the digest as a
column function; chunked `keccak256_file` mirrors the reference's streaming
file hash (4096-byte reads, signing.go:79).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import struct
import subprocess
import sys
import sysconfig
import tempfile
import threading

_MASK = (1 << 64) - 1
RATE = 136  # bytes absorbed per permutation (capacity 512 bits)

_RC = [
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
]
_ROTC = [1, 3, 6, 10, 15, 21, 28, 36, 45, 55, 2, 14,
         27, 41, 56, 8, 25, 43, 62, 18, 39, 61, 20, 44]
_PILN = [10, 7, 11, 17, 18, 3, 5, 16, 8, 21, 24, 4,
         15, 23, 19, 13, 12, 2, 20, 14, 22, 9, 6, 1]

_BLOCK_LANES = struct.Struct(f"<{RATE // 8}Q")
_DIGEST_LANES = struct.Struct("<4Q")


def _rotl(x: int, n: int) -> int:
    return ((x << n) | (x >> (64 - n))) & _MASK


def _keccak_f(st: list[int]) -> None:
    for rnd in range(24):
        # theta
        bc = [st[i] ^ st[i + 5] ^ st[i + 10] ^ st[i + 15] ^ st[i + 20] for i in range(5)]
        for i in range(5):
            t = bc[(i + 4) % 5] ^ _rotl(bc[(i + 1) % 5], 1)
            for j in range(0, 25, 5):
                st[j + i] ^= t
        # rho + pi
        t = st[1]
        for i in range(24):
            j = _PILN[i]
            bc[0] = st[j]
            st[j] = _rotl(t, _ROTC[i])
            t = bc[0]
        # chi
        for j in range(0, 25, 5):
            row = st[j:j + 5]
            for i in range(5):
                st[j + i] = row[i] ^ ((~row[(i + 1) % 5]) & row[(i + 2) % 5] & _MASK)
        # iota
        st[0] ^= _RC[rnd]


class _PythonKernel:
    """Block absorb over a list of 25 Python ints."""

    name = "python"

    def __init__(self, reason: str = "") -> None:
        self.reason = reason

    def new_state(self) -> list[int]:
        return [0] * 25

    def copy(self, st: list[int]) -> list[int]:
        return list(st)

    def absorb(self, st: list[int], data, nblocks: int) -> None:
        for b in range(nblocks):
            for i, lane in enumerate(_BLOCK_LANES.unpack_from(data, b * RATE)):
                st[i] ^= lane
            _keccak_f(st)


_CDEF = "void keccak_absorb(uint64_t *st, const unsigned char *data, size_t nblocks);"

_CFLAGS = ["-O3", "-funroll-loops"]  # about 2x the -O2 speed on x86-64

_C_SOURCE = r"""
#include <stdint.h>
#include <stddef.h>

static const uint64_t RC[24] = {
    0x0000000000000001ULL, 0x0000000000008082ULL, 0x800000000000808AULL,
    0x8000000080008000ULL, 0x000000000000808BULL, 0x0000000080000001ULL,
    0x8000000080008081ULL, 0x8000000000008009ULL, 0x000000000000008AULL,
    0x0000000000000088ULL, 0x0000000080008009ULL, 0x000000008000000AULL,
    0x000000008000808BULL, 0x800000000000008BULL, 0x8000000000008089ULL,
    0x8000000000008003ULL, 0x8000000000008002ULL, 0x8000000000000080ULL,
    0x000000000000800AULL, 0x800000008000000AULL, 0x8000000080008081ULL,
    0x8000000000008080ULL, 0x0000000080000001ULL, 0x8000000080008008ULL};
static const int ROTC[24] = {1, 3, 6, 10, 15, 21, 28, 36, 45, 55, 2, 14,
                             27, 41, 56, 8, 25, 43, 62, 18, 39, 61, 20, 44};
static const int PILN[24] = {10, 7, 11, 17, 18, 3, 5, 16, 8, 21, 24, 4,
                             15, 23, 19, 13, 12, 2, 20, 14, 22, 9, 6, 1};
#define ROTL(x, n) (((x) << (n)) | ((x) >> (64 - (n))))

static void keccak_f(uint64_t *st) {
    uint64_t t, bc[5];
    for (int r = 0; r < 24; r++) {
        for (int i = 0; i < 5; i++)
            bc[i] = st[i] ^ st[i + 5] ^ st[i + 10] ^ st[i + 15] ^ st[i + 20];
        for (int i = 0; i < 5; i++) {
            t = bc[(i + 4) % 5] ^ ROTL(bc[(i + 1) % 5], 1);
            for (int j = 0; j < 25; j += 5) st[j + i] ^= t;
        }
        t = st[1];
        for (int i = 0; i < 24; i++) {
            int j = PILN[i];
            bc[0] = st[j];
            st[j] = ROTL(t, ROTC[i]);
            t = bc[0];
        }
        for (int j = 0; j < 25; j += 5) {
            for (int i = 0; i < 5; i++) bc[i] = st[j + i];
            for (int i = 0; i < 5; i++) st[j + i] ^= ~bc[(i + 1) % 5] & bc[(i + 2) % 5];
        }
        st[0] ^= RC[r];
    }
}

/* XOR nblocks 136-byte blocks (little-endian lanes) into st, permuting after each. */
void keccak_absorb(uint64_t *st, const unsigned char *data, size_t nblocks) {
    for (size_t b = 0; b < nblocks; b++, data += 136) {
        for (int i = 0; i < 17; i++) {
            uint64_t lane = 0;
            for (int k = 7; k >= 0; k--) lane = (lane << 8) | data[8 * i + k];
            st[i] ^= lane;
        }
        keccak_f(st);
    }
}
"""


class _NativeKernel:
    """Block absorb over a C ``uint64_t[25]``; the call releases the GIL."""

    name = "native"
    reason = ""

    def __init__(self, ffi, lib) -> None:
        self._ffi = ffi
        self._lib = lib

    def new_state(self):
        return self._ffi.new("uint64_t[25]")

    def copy(self, st):
        out = self._ffi.new("uint64_t[25]")
        self._ffi.memmove(out, st, 25 * 8)
        return out

    def absorb(self, st, data, nblocks: int) -> None:
        buf = self._ffi.from_buffer("unsigned char[]", data)
        if len(buf) < nblocks * RATE:
            raise ValueError(f"{len(buf)} bytes cannot hold {nblocks} blocks")
        self._lib.keccak_absorb(st, buf, nblocks)


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "basin_cli_spark")


# Run in a child process: cffi's compile changes the working directory,
# which is shared by every thread of this one (the sink hashes on a pool).
_BUILD_SCRIPT = """
import json, sys
import cffi
a = json.load(sys.stdin)
ffi = cffi.FFI()
ffi.cdef(a["cdef"])
ffi.set_source(a["modname"], a["source"], extra_compile_args=a["cflags"])
ffi.compile(tmpdir=".", verbose=False)
"""


def _compile_native(modname: str, so_path: str) -> None:
    """Compile the kernel in a child process and move it to ``so_path``."""
    cache = os.path.dirname(so_path)
    os.makedirs(cache, exist_ok=True)
    args = {"cdef": _CDEF, "source": _C_SOURCE, "cflags": _CFLAGS, "modname": modname}
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        proc = subprocess.run(
            [sys.executable, "-c", _BUILD_SCRIPT],
            input=json.dumps(args), cwd=tmp, capture_output=True, text=True, timeout=300,
        )
        built = os.path.join(tmp, os.path.basename(so_path))
        if proc.returncode != 0 or not os.path.exists(built):
            last = (proc.stderr.strip().splitlines() or ["no output"])[-1]
            raise RuntimeError(f"kernel build exited {proc.returncode}: {last}")
        os.replace(built, so_path)


def _build_native() -> _NativeKernel:
    """Load the cached C kernel, compiling it first if it is not there."""
    import cffi

    parts = (_CDEF, _C_SOURCE, *_CFLAGS, cffi.__version__, sys.implementation.cache_tag)
    key = hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]
    modname = f"_keccak_{key}"
    so_path = os.path.join(_cache_dir(), modname + sysconfig.get_config_var("EXT_SUFFIX"))
    if not os.path.exists(so_path):
        _compile_native(modname, so_path)
    spec = importlib.util.spec_from_file_location(modname, so_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return _NativeKernel(mod.ffi, mod.lib)


def _load_kernel():
    """The native kernel, or the pure-Python one with the reason it is
    used.  Any failure to build or import falls back: hashing must work
    wherever the package does."""
    try:
        return _build_native()
    except Exception as exc:  # noqa: BLE001 — recorded in keccak_backend()
        return _PythonKernel(reason=f"{type(exc).__name__}: {exc}")


_loaded = None
_load_lock = threading.Lock()


def _kernel():
    """The kernel in use, loaded once; the first hashes of a process may
    come from several pool threads at once, and only one may build."""
    global _loaded
    if _loaded is None:
        with _load_lock:
            if _loaded is None:
                _loaded = _load_kernel()
    return _loaded


def keccak_backend() -> str:
    """Which kernel hashes: ``native``, or ``python (<why the native one
    did not load>)``."""
    k = _kernel()
    return f"{k.name} ({k.reason})" if k.reason else k.name


class Keccak256:
    """Streaming Keccak-256 (rate 136, capacity 512, pad 0x01||...||0x80)."""

    RATE = RATE

    def __init__(self) -> None:
        self._k = _kernel()
        self._state = self._k.new_state()
        self._buf = bytearray()  # the partial block, always < RATE bytes

    def update(self, data) -> "Keccak256":
        view = memoryview(data).cast("B")
        if self._buf:
            take = RATE - len(self._buf)
            self._buf += view[:take]
            view = view[take:]
            if len(self._buf) < RATE:
                return self
            self._k.absorb(self._state, self._buf, 1)
            self._buf.clear()
        nblocks = len(view) // RATE
        if nblocks:
            self._k.absorb(self._state, view, nblocks)
        self._buf += view[nblocks * RATE:]
        return self

    def digest(self) -> bytes:
        block = bytearray(RATE)
        block[: len(self._buf)] = self._buf
        block[len(self._buf)] |= 0x01
        block[-1] |= 0x80
        st = self._k.copy(self._state)
        self._k.absorb(st, block, 1)
        return _DIGEST_LANES.pack(*st[0:4])  # a list or a C array

    def hexdigest(self) -> str:
        return self.digest().hex()


def keccak256(data: bytes) -> bytes:
    return Keccak256().update(data).digest()


def keccak256_file(path: str, chunk_size: int = 4096) -> bytes:
    """Streaming file hash in 4 KB chunks (bounded memory, like reference
    signing.go:77-100)."""
    h = Keccak256()
    with open(path, "rb") as f:
        while True:
            chunk = f.read(chunk_size)
            if not chunk:
                break
            h.update(chunk)
    return h.digest()


def keccak256_udf():
    """Arrow-vectorized column form: keccak256 hex of a string/binary col."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _keccak(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None
            if v is None
            else keccak256(v if isinstance(v, (bytes, bytearray)) else str(v).encode()).hex()
        )

    return _keccak
