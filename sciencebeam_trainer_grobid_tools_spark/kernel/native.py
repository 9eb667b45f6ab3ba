"""C acceleration for the Smith-Waterman alignment DP.

The reference pins a thin C alignment kernel (``sciencebeam-alignment``,
requirements.txt:7) under python orchestration; this module mirrors that
design: one fused C call (score matrix, best cell and traceback) compiled
once per machine with the system gcc (cached as a shared object) and loaded
via ctypes.  When no compiler is available (e.g. a locked-down executor
image), the vectorized numpy DP in ``align.py`` is used — identical results,
several times slower.

- **Row kernel.** Each DP row is computed eight int16 cells at a time with
  SSE2: the code-point comparison is two ``_mm_cmpeq_epi32`` narrowed by
  ``_mm_packs_epi32``, and the in-row left-gap dependency is an in-register
  prefix max (shift-sub-max by 1, 2 and 4 lanes, then the carry from the
  previous eight cells).  The row maximum decides whether the row can hold
  the best cell, so the per-cell best-cell branch is gone.  Scores, best
  cell and traceback are exactly those of the scalar recurrence.
- **One driver.** ``sw_align16`` writes every row in place into one
  grow-only matrix, at every matrix size; the traceback reads it back.
- **Build.** Plain ``gcc -O3``: SSE2 is the x86-64 baseline, so the shared
  object needs no ``-march`` and no CPU dispatch and runs on every executor.
- **FFI.** The haystack and needle cross as the UTF-32-LE ``bytes`` the
  caller already holds (``c_char_p`` passes the bytes object's own buffer,
  no copy).  The scratch buffers are grow-only ctypes arrays whose
  addresses are taken when they grow, not on every call, and the blocks
  come back as one slice of the blocks buffer.

The compile cache lives under the repo (``.native_cache/``, gitignored); at
cluster scale the .so would be baked into the executor image or shipped as an
archive alongside the --py-files zip.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
from typing import List, Optional, Tuple

_C_SOURCE = r"""
#include <stddef.h>
#include <stdint.h>
#include <emmintrin.h>

/* One Smith-Waterman row (match +2, mismatch -1, gap -2), eight int16 cells
   per step:
     t[i]   = max(0, prev[i-1] + (a[i-1] == bj ? 2 : -1), prev[i] - 2)
     cur[i] = max(t[i], cur[i-1] - 2),   cur[0] = 0.
   The left-gap penalty is linear, so within eight lanes cur is the prefix
   max of t[p] - 2(l-p): shift-sub-max by 1, 2 and 4 lanes, then
   max(x, left - {2, 4, ..., 16}) carries the previous eight cells in.
   The n mod 8 tail runs scalar.  Returns the row maximum.  Scores stay
   within int16 while 2*min(n, m) does (native_match_blocks checks it). */
static int16_t sw_row16(const uint32_t* a, int n, uint32_t bj,
                        const int16_t* prev, int16_t* cur) {
    const __m128i zero = _mm_setzero_si128();
    const __m128i code = _mm_set1_epi32((int32_t)bj);
    const __m128i three = _mm_set1_epi16(3);
    const __m128i minus1 = _mm_set1_epi16(-1);
    const __m128i gap1 = _mm_set1_epi16(2);
    const __m128i gap2 = _mm_set1_epi16(4);
    const __m128i gap4 = _mm_set1_epi16(8);
    const __m128i carry_gaps = _mm_setr_epi16(2, 4, 6, 8, 10, 12, 14, 16);
    __m128i row_max = zero;
    int left = 0;
    int i = 0;  /* this step computes cells i+1 .. i+8 */
    cur[0] = 0;
    for (; i + 8 <= n; i += 8) {
        __m128i eq = _mm_packs_epi32(
            _mm_cmpeq_epi32(_mm_loadu_si128((const __m128i*)(a + i)), code),
            _mm_cmpeq_epi32(_mm_loadu_si128((const __m128i*)(a + i + 4)), code));
        __m128i sub = _mm_add_epi16(minus1, _mm_and_si128(eq, three));
        __m128i diag = _mm_add_epi16(_mm_loadu_si128((const __m128i*)(prev + i)), sub);
        __m128i up = _mm_sub_epi16(_mm_loadu_si128((const __m128i*)(prev + i + 1)), gap1);
        __m128i x = _mm_max_epi16(_mm_max_epi16(diag, up), zero);
        x = _mm_max_epi16(x, _mm_sub_epi16(_mm_slli_si128(x, 2), gap1));
        x = _mm_max_epi16(x, _mm_sub_epi16(_mm_slli_si128(x, 4), gap2));
        x = _mm_max_epi16(x, _mm_sub_epi16(_mm_slli_si128(x, 8), gap4));
        /* the next step's carry, max(x[7], left - 16), uses x[7] before this
           step's carry is applied: the cross-step chain is one sub, one max */
        int top = (int16_t)_mm_extract_epi16(x, 7);
        x = _mm_max_epi16(x, _mm_sub_epi16(_mm_set1_epi16((int16_t)left), carry_gaps));
        left = top > left - 16 ? top : left - 16;
        _mm_storeu_si128((__m128i*)(cur + i + 1), x);
        row_max = _mm_max_epi16(row_max, x);
    }
    row_max = _mm_max_epi16(row_max, _mm_srli_si128(row_max, 8));
    row_max = _mm_max_epi16(row_max, _mm_srli_si128(row_max, 4));
    row_max = _mm_max_epi16(row_max, _mm_srli_si128(row_max, 2));
    int best = (int16_t)_mm_extract_epi16(row_max, 0);
    for (; i < n; i++) {
        int v = prev[i] + (a[i] == bj ? 2 : -1);
        if (prev[i + 1] - 2 > v) v = prev[i + 1] - 2;
        if (left - 2 > v) v = left - 2;
        if (v < 0) v = 0;
        cur[i + 1] = (int16_t)v;
        left = v;
        if (v > best) best = v;
    }
    return (int16_t)best;
}

/* Smallest i in 1 .. limit-1 with row[i] == v, or 0 when there is none. */
static int first_eq16(const int16_t* row, int limit, int16_t v) {
    const __m128i target = _mm_set1_epi16(v);
    int i = 1;
    for (; i + 8 <= limit; i += 8) {
        int mask = _mm_movemask_epi8(
            _mm_cmpeq_epi16(_mm_loadu_si128((const __m128i*)(row + i)), target));
        if (mask) return i + (__builtin_ctz(mask) >> 1);
    }
    for (; i < limit; i++) {
        if (row[i] == v) return i;
    }
    return 0;
}

/* Best cell, first maximum in a-major order (larger score; on ties the
   smaller i, then the smaller j).  Rows arrive in j order, so row j can only
   move the best cell to the first position of its maximum rm, and only when
   rm beats the best or ties it at a smaller i. */
static void keep_best(const int16_t* row, int n, int16_t rm, int j,
                      int16_t* best, int* bi, int* bj) {
    if (rm > *best) {
        *best = rm; *bi = first_eq16(row, n + 1, rm); *bj = j;
    } else if (rm == *best && rm > 0) {
        int i = first_eq16(row, *bi, rm);
        if (i) { *bi = i; *bj = j; }
    }
}

/* Traceback from cell (a=i, b=j) while the score is positive, preferring
   diagonal, then up (a-gap), then left (b-gap); writes difflib-style blocks
   (ai, bi, size) ascending into `blocks` (capacity 3*(n+m) int32) and
   returns the block count. */
int sw_traceback16(const uint32_t* a, const uint32_t* b, const int16_t* h,
                   int n, int m, int i, int j, int32_t* blocks) {
    /* collect matched diagonal positions in reverse into the tail of the
       buffer, then merge into blocks from the front */
    int cap = n + m;
    int32_t* pairs = blocks + cap;  /* reuse: pairs area holds 2*count ints */
    int count = 0;
    while (i > 0 && j > 0) {
        int16_t score = h[(size_t)j * (n + 1) + i];
        if (score <= 0) break;
        int16_t sub = (a[i - 1] == b[j - 1]) ? 2 : -1;
        if (score == h[(size_t)(j - 1) * (n + 1) + (i - 1)] + sub) {
            if (sub == 2) {
                pairs[2 * count] = i - 1;
                pairs[2 * count + 1] = j - 1;
                count++;
            }
            i--; j--;
        } else if (score == h[(size_t)(j - 1) * (n + 1) + i] - 2) {
            j--;
        } else if (score == h[(size_t)j * (n + 1) + (i - 1)] - 2) {
            i--;
        } else {
            break;
        }
    }
    /* pairs are in reverse order; build ascending blocks */
    int n_blocks = 0;
    for (int k = count - 1; k >= 0; k--) {
        int ai = pairs[2 * k];
        int bi = pairs[2 * k + 1];
        if (n_blocks > 0
            && blocks[3 * (n_blocks - 1)] + blocks[3 * (n_blocks - 1) + 2] == ai
            && blocks[3 * (n_blocks - 1) + 1] + blocks[3 * (n_blocks - 1) + 2] == bi) {
            blocks[3 * (n_blocks - 1) + 2]++;
        } else {
            blocks[3 * n_blocks] = ai;
            blocks[3 * n_blocks + 1] = bi;
            blocks[3 * n_blocks + 2] = 1;
            n_blocks++;
        }
    }
    return n_blocks;
}

/* Fused alignment: score matrix + best cell + traceback in ONE call.  The DP
   matrix h ((m+1) x (n+1) int16, row-major) is caller-provided scratch (a
   grow-only buffer reused across calls: per-call malloc of the larger
   matrices crosses the mmap threshold and the resulting page faults / TLB
   shootdowns serialize at high process counts); rows are written in place.
   Returns the block count written to `blocks`. */
int sw_align16(const uint32_t* a, int n, const uint32_t* b, int m,
               int16_t* h, int32_t* blocks) {
    int16_t best = 0; int bi = 0; int bj = 0;
    for (int i = 0; i <= n; i++) h[i] = 0;
    for (int j = 1; j <= m; j++) {
        int16_t* cur = h + (size_t)j * (n + 1);
        int16_t rm = sw_row16(a, n, b[j - 1], cur - (n + 1), cur);
        keep_best(cur, n, rm, j, &best, &bi, &bj);
    }
    return best > 0 ? sw_traceback16(a, b, h, n, m, bi, bj, blocks) : 0;
}
"""

_GCC_ARGS = ("gcc", "-O3", "-shared", "-fPIC")

_CACHE_DIR = os.environ.get(
    "SPARK_GRAFT_NATIVE_CACHE",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".native_cache"),
)

_lib: Optional[ctypes.CDLL] = None
_tried = False


def _cache_dir_candidates():
    yield _CACHE_DIR
    # When the package ships inside a --py-files zip, __file__-derived paths
    # point INSIDE the archive and makedirs fails; without this fallback the
    # C kernel would silently degrade to the ~5x slower numpy DP on every
    # executor.  A per-user tempdir cache keeps the compile one-time per node.
    yield os.path.join(
        tempfile.gettempdir(), "sciencebeam_spark_native_%d" % os.getuid()
    )


def _compile() -> Optional[str]:
    # the key covers the compile command too: a changed flag must not reuse
    # a shared object built with the old one
    key = "\0".join(_GCC_ARGS + (_C_SOURCE,))
    digest = hashlib.sha1(key.encode()).hexdigest()[:16]
    for cache_dir in _cache_dir_candidates():
        so_path = os.path.join(cache_dir, "swkernel_%s.so" % digest)
        if os.path.exists(so_path):
            return so_path
        tmp_so = so_path + ".tmp.%d" % os.getpid()
        c_path = None
        try:
            os.makedirs(cache_dir, exist_ok=True)
            with tempfile.NamedTemporaryFile(
                "w", suffix=".c", dir=cache_dir, delete=False
            ) as fh:
                c_path = fh.name
                fh.write(_C_SOURCE)
            subprocess.run(
                list(_GCC_ARGS) + ["-o", tmp_so, c_path],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(tmp_so, so_path)  # atomic vs concurrent workers
            return so_path
        except Exception:
            continue
        finally:
            for path in (c_path, tmp_so):
                if path is not None and os.path.exists(path):
                    os.unlink(path)
    return None


def get_native_lib() -> Optional[ctypes.CDLL]:
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    so_path = _compile()
    if not so_path:
        return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None
    lib.sw_align16.argtypes = [
        ctypes.c_char_p,
        ctypes.c_int,
        ctypes.c_char_p,
        ctypes.c_int,
        ctypes.c_void_p,
        ctypes.c_void_p,
    ]
    lib.sw_align16.restype = ctypes.c_int
    _lib = lib
    return _lib


class _Scratch:
    """Grow-only ctypes buffer reused across calls (python workers are
    single-threaded); its address is taken once per growth."""

    __slots__ = ("ctype", "size", "array", "ptr")

    def __init__(self, ctype, size: int) -> None:
        self.ctype = ctype
        self.grow(size)

    def grow(self, size: int) -> None:
        self.size = size
        self.array = (self.ctype * size)()
        self.ptr = ctypes.c_void_p(ctypes.addressof(self.array))


_blocks = _Scratch(ctypes.c_int32, 4096)
_matrix = _Scratch(ctypes.c_int16, 1 << 16)


def native_match_blocks(
    a_bytes: bytes, n: int, b_bytes: bytes, m: int
) -> Optional[List[Tuple[int, int, int]]]:
    """Fused C path: matrix + best cell + traceback in ONE FFI call; the DP
    matrix is C-internal scratch and never crosses into Python.

    ``a_bytes`` and ``b_bytes`` are UTF-32-LE code points; only the first
    ``n`` and ``m`` of them are aligned (``m`` below the needle's length
    truncates it).  ``2 * min(n, m)`` must stay below 32768 (int16 scores).
    Returns the difflib-style blocks (without terminator), or None when the
    native lib is unavailable."""
    lib = get_native_lib()
    if lib is None:
        return None
    if not (0 <= n <= len(a_bytes) // 4 and 0 <= m <= len(b_bytes) // 4):
        raise ValueError("alignment lengths %d, %d exceed the code points given" % (n, m))
    if 2 * min(n, m) > 32767:
        raise ValueError("int16 scores overflow at min(n, m) = %d" % min(n, m))
    if n == 0 or m == 0:
        return []
    if 5 * (n + m) + 8 > _blocks.size:
        # blocks area (3 per block, <= n+m blocks) + pairs scratch (2 per match)
        _blocks.grow(5 * (n + m) + 8)
    cells = (n + 1) * (m + 1)
    if cells > _matrix.size:
        _matrix.grow(cells)
    n_blocks = lib.sw_align16(a_bytes, n, b_bytes, m, _matrix.ptr, _blocks.ptr)
    flat = _blocks.array[: 3 * n_blocks]
    return list(zip(flat[0::3], flat[1::3], flat[2::3]))
