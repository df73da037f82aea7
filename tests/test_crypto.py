"""Golden crypto parity (reference pkg/signing/signing_test.go:12-41) and
public keccak vectors."""

import os
import random
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from basin_cli_spark.functions import hashing
from basin_cli_spark.functions.hashing import keccak256, keccak256_file
from basin_cli_spark.functions.signing import derive_address, sign_bytes, sign_file

PRIV = "59c6995e998f97a5a0044966f0945389dc9e86dae88c7a8412f4603b6b78690d"
GOLDEN_SIG = (
    "6ddb61a19b9df71136b48c80b2e86e7e20313d5eec0de9210802335b300ba8df"
    "6c332d35a5d753a028d703769fd9b66d7ce5902d80369750cf55118b1679d84900"
)


def test_keccak_empty():
    assert keccak256(b"").hex() == (
        "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )


def test_keccak_abc():
    assert keccak256(b"abc").hex() == (
        "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    )


def test_keccak_multiblock():
    # > rate (136 bytes) exercises the streaming absorb path
    data = b"x" * 1000
    assert keccak256(data) == keccak256_chunks(data)


def keccak256_chunks(data: bytes):
    from basin_cli_spark.functions.hashing import Keccak256

    h = Keccak256()
    for i in range(0, len(data), 7):
        h.update(data[i : i + 7])
    return h.digest()


def test_golden_signature():
    """Exact signature parity with the reference's golden fixture."""
    assert sign_bytes(b"data to be signed", PRIV).hex() == GOLDEN_SIG


def test_sign_file(tmp_path):
    p = tmp_path / "content.txt"
    p.write_bytes(b"data to be signed")
    assert sign_file(str(p), PRIV).hex() == GOLDEN_SIG


def test_sign_empty_file_rejected(tmp_path):
    p = tmp_path / "empty.txt"
    p.write_bytes(b"")
    with pytest.raises(ValueError):
        sign_file(str(p), PRIV)


def test_sign_missing_file_rejected(tmp_path):
    with pytest.raises(OSError):
        sign_file(str(tmp_path / "nope.txt"), PRIV)


def test_derive_address():
    # public well-known test key => its published address
    assert derive_address(PRIV) == "0x70997970c51812dc3a010c7d01b50e0d17dc79c8"


def test_file_hash_chunking(tmp_path):
    p = tmp_path / "big.bin"
    data = os.urandom(10000)
    p.write_bytes(data)
    assert keccak256_file(str(p)) == keccak256(data)


# ---------------------------------------------------------------------------
# Native kernel vs the pure-Python reference


def pure_keccak(data: bytes) -> bytes:
    """Keccak-256 through the pure-Python kernel, whichever one is loaded."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(hashing, "_kernel", hashing._PythonKernel)
        return keccak256(data)


@pytest.fixture
def native():
    if hashing._kernel().name != "native":
        pytest.skip(f"native keccak not loaded: {hashing.keccak_backend()}")


# block edges (rate 136), the 4 KB file chunk edges, and 1 MB
@pytest.mark.parametrize(
    "n", [0, 1, 135, 136, 137, 271, 272, 4095, 4096, 4097, 1 << 20]
)
def test_native_matches_python(native, n):
    data = random.Random(n).randbytes(n)
    assert keccak256(data) == pure_keccak(data)


def test_native_file_matches_python(native, tmp_path):
    data = random.Random(7).randbytes(5 * 4096 + 77)  # six 4 KB reads
    p = tmp_path / "multi_chunk.bin"
    p.write_bytes(data)
    assert keccak256_file(str(p)) == pure_keccak(data)


def test_native_build_is_cached(native, tmp_path, monkeypatch):
    """A cold cache compiles once into the cache dir and leaves only the
    extension there; the next load reuses it."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    kernel = hashing._build_native()
    built = os.listdir(tmp_path / "basin_cli_spark")
    assert len(built) == 1 and built[0].endswith(".so"), built
    mtime = os.path.getmtime(tmp_path / "basin_cli_spark" / built[0])
    monkeypatch.setattr(hashing, "_kernel", lambda: kernel)
    assert keccak256(b"abc").hex().startswith("4e03657a")
    hashing._build_native()
    assert os.path.getmtime(tmp_path / "basin_cli_spark" / built[0]) == mtime


def test_cold_build_from_threads_keeps_cwd(native, tmp_path, monkeypatch):
    """First hashes from several threads on a cold cache build the kernel
    once, and never move the process's working directory while other
    threads resolve relative paths."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(hashing, "_loaded", None)
    builds = []
    compile_native = hashing._compile_native

    def counted(*args):
        builds.append(args)
        compile_native(*args)

    monkeypatch.setattr(hashing, "_compile_native", counted)
    cwd = os.getcwd()
    seen, done = set(), threading.Event()

    def watch():
        while not done.is_set():
            seen.add(os.getcwd())

    watcher = threading.Thread(target=watch)
    watcher.start()
    start = threading.Barrier(4)

    def first_hash(i):
        start.wait()
        return keccak256(bytes([i]) * 1000)

    try:
        with ThreadPoolExecutor(4) as pool:
            digests = list(pool.map(first_hash, range(4)))
    finally:
        done.set()
        watcher.join()
    assert seen == {cwd} and os.getcwd() == cwd
    assert len(builds) == 1
    assert hashing._kernel().name == "native"
    built = os.listdir(tmp_path / "basin_cli_spark")
    assert len(built) == 1 and built[0].endswith(".so"), built
    assert digests == [pure_keccak(bytes([i]) * 1000) for i in range(4)]


def test_fallback_when_native_fails_to_load(monkeypatch):
    """With cffi unimportable the loader falls back to pure Python, says
    why, and still meets the known-answer vectors and the golden
    signature."""
    monkeypatch.setitem(sys.modules, "cffi", None)
    kernel = hashing._load_kernel()
    assert kernel.name == "python" and "cffi" in kernel.reason
    monkeypatch.setattr(hashing, "_kernel", lambda: kernel)
    assert hashing.keccak_backend() == f"python ({kernel.reason})"
    test_keccak_empty()
    test_keccak_abc()
    test_keccak_multiblock()
    test_golden_signature()
    test_derive_address()
