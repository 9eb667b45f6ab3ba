"""Build-cache hygiene and FFI argument checks of the native alignment
kernel (kernel/native.py)."""

import os
import random
import subprocess

import pytest

from sciencebeam_trainer_grobid_tools_spark.kernel import align, native


def test_failed_compile_leaves_no_files(tmp_path, monkeypatch):
    """A failing gcc run must not leave the temporary .c source or a partial
    .so.tmp.<pid> behind in the cache dir."""

    def failing_gcc(argv, **kwargs):
        # a partial output file, as a crashed or killed compiler can leave
        with open(argv[argv.index("-o") + 1], "wb") as fh:
            fh.write(b"partial")
        raise subprocess.CalledProcessError(1, argv)

    monkeypatch.setattr(native, "_cache_dir_candidates", lambda: iter([str(tmp_path)]))
    monkeypatch.setattr(native.subprocess, "run", failing_gcc)
    assert native._compile() is None
    assert os.listdir(tmp_path) == []


def test_cache_key_covers_the_compile_command(tmp_path, monkeypatch):
    """A changed gcc argv must build a new shared object, not reuse the one
    built with the old flags."""
    built = []

    def fake_gcc(argv, **kwargs):
        built.append(argv)
        with open(argv[argv.index("-o") + 1], "wb") as fh:
            fh.write(b"so")

    monkeypatch.setattr(native, "_cache_dir_candidates", lambda: iter([str(tmp_path)]))
    monkeypatch.setattr(native.subprocess, "run", fake_gcc)
    first = native._compile()
    assert native._compile() == first and len(built) == 1  # cached
    monkeypatch.setattr(native, "_GCC_ARGS", native._GCC_ARGS + ("-g",))
    second = native._compile()
    assert second != first and len(built) == 2
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(path) for path in (first, second)
    )


def test_ffi_rejects_lengths_it_cannot_serve():
    """Lengths beyond the bytes given, or an int16 score overflow, raise
    before any pointer reaches C."""
    if native.get_native_lib() is None:
        pytest.skip("native kernel unavailable")
    text = "abc".encode("utf-32-le")
    with pytest.raises(ValueError):
        native.native_match_blocks(text, 4, text, 3)
    with pytest.raises(ValueError):
        native.native_match_blocks(text, 3, text, -1)
    long = ("a" * 16384).encode("utf-32-le")
    with pytest.raises(ValueError):
        native.native_match_blocks(long, 16384, long, 16384)
    assert native.native_match_blocks(text, 3, text, 2) == [(0, 0, 2)]


def test_no_compiler_path_returns_the_same_blocks(monkeypatch):
    """Without the shared object, local_matching_blocks runs the numpy DP and
    returns what the C kernel returns, terminator included."""
    rng = random.Random(3)
    cases = [("", "abc"), ("abc", ""), ("abc", "xyz")]
    for _ in range(50):
        a = "".join(rng.choice("ab c") for _ in range(rng.randint(1, 60)))
        b = "".join(rng.choice("ab cd") for _ in range(rng.randint(1, 20)))
        cases.append((a, b))
    expected = [align.local_matching_blocks(a, b) for a, b in cases]
    monkeypatch.setattr(align, "native_match_blocks", lambda *args: None)
    assert [align.local_matching_blocks(a, b) for a, b in cases] == expected
