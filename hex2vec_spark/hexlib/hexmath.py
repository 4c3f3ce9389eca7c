"""Pure-NumPy hexagonal lattice math (aperture-7 IJK system).

Implements the 2D/IJK coordinate algebra of an aperture-7 hexagonal
hierarchy per the public Uber H3 spec (Apache-2.0): IJK coordinates on a
unit hex lattice, hex rounding, and the two aperture-7 substitution maps
(counter-clockwise "B" and clockwise "A") that alternate between Class II
(even resolution) and Class III (odd resolution) grids.

Everything is vectorized over NumPy arrays; no Python-level per-row loops.

Conventions (self-consistent; fixed by the round-trip property tests):
  * unit axes: e_i at 0 deg, e_j at 120 deg, e_k at 240 deg, spacing 1.
  * hex2d:  x = i - j/2 - k/2 ,  y = (j - k) * sqrt(3)/2
  * digit encoding (H3 spec): CENTER=0, K=1, J=2, JK=3, I=4, IK=5, IJ=6,
    i.e. digit = 4*i + 2*j + k of the unit offset.
  * resolution r+1 lattice = parent lattice scaled by sqrt(7), rotated by
    +AP7_ROT (CCW) when r+1 is odd (Class III) and -AP7_ROT when even.

Reference semantics mirrored (not ported) from kraina-ai/hex2vec's use of
the h3 library (src/data/make_dataset.py:19-41, src/models/
h3_neighbor_dataset.py:21-30).
"""

from __future__ import annotations

import numpy as np

SQRT3_2 = np.sqrt(3.0) / 2.0
SQRT7 = np.sqrt(7.0)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (vectorized, uint64 in/out) — the shared
    deterministic mixer for every synthetic/stub hash in the engine
    (synth generator, multimodal stubs); one definition so they can
    never drift apart."""
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x
# aperture-7 rotation angle: atan2(sqrt(3)/2, 5/2) = asin(sqrt(3/28))
AP7_ROT = np.arctan2(np.sqrt(3.0) / 2.0, 2.5)

# unit IJK vectors for digits 0..6 (digit = 4i + 2j + k)
DIGIT_IJK = np.zeros((7, 3), dtype=np.int64)
for _d in range(7):
    DIGIT_IJK[_d] = ((_d >> 2) & 1, (_d >> 1) & 1, _d & 1)


def ijk_to_hex2d(ijk: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(..., 3) int IJK -> (x, y) float arrays."""
    i = ijk[..., 0].astype(np.float64)
    j = ijk[..., 1].astype(np.float64)
    k = ijk[..., 2].astype(np.float64)
    x = i - 0.5 * j - 0.5 * k
    y = (j - k) * SQRT3_2
    return x, y


def hex2d_to_ijk(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Round fractional hex2d coords to the nearest lattice point.

    Returns normalized IJK (min component 0), shape (..., 3) int64.
    Classic cube rounding: cube coords (a, -a-b, b) along (e_i, e_k, e_j)
    are integers exactly at lattice points.
    """
    a = x + y / np.sqrt(3.0)  # fractional coefficient of e_i (k = 0 gauge)
    b = 2.0 * y / np.sqrt(3.0)  # fractional coefficient of e_j
    return _axial_round(a, b)


def normalize_ijk(ijk: np.ndarray) -> np.ndarray:
    return ijk - ijk.min(axis=-1, keepdims=True)


# aperture-7 "down" substitution maps (integer, exact).
# down_b (CCW, used for odd/Class III child): e_i->(3,1,0) e_j->(0,3,1) e_k->(1,0,3)
# down_a (CW,  used for even/Class II child): e_i->(3,0,1) e_j->(1,3,0) e_k->(0,1,3)
def down_b(ijk: np.ndarray) -> np.ndarray:
    i, j, k = ijk[..., 0], ijk[..., 1], ijk[..., 2]
    return normalize_ijk(np.stack([3 * i + k, i + 3 * j, j + 3 * k], axis=-1))


def down_a(ijk: np.ndarray) -> np.ndarray:
    i, j, k = ijk[..., 0], ijk[..., 1], ijk[..., 2]
    return normalize_ijk(np.stack([3 * i + j, 3 * j + k, i + 3 * k], axis=-1))


def up_b(ijk: np.ndarray) -> np.ndarray:
    """Exact inverse of down_b with hex rounding (parent of a Class III cell)."""
    a = (ijk[..., 0] - ijk[..., 2]).astype(np.float64)
    b = (ijk[..., 1] - ijk[..., 2]).astype(np.float64)
    # M_b = [[3,-1],[1,2]] on axial coords; inverse = 1/7 [[2,1],[-1,3]]
    fa = (2.0 * a + b) / 7.0
    fb = (-a + 3.0 * b) / 7.0
    return _axial_round(fa, fb)


def up_a(ijk: np.ndarray) -> np.ndarray:
    """Exact inverse of down_a with hex rounding (parent of a Class II cell)."""
    a = (ijk[..., 0] - ijk[..., 2]).astype(np.float64)
    b = (ijk[..., 1] - ijk[..., 2]).astype(np.float64)
    # M_a = [[2,1],[-1,3]]; inverse = 1/7 [[3,-1],[1,2]]
    fa = (3.0 * a - b) / 7.0
    fb = (a + 2.0 * b) / 7.0
    return _axial_round(fa, fb)


def _axial_round(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cube-round fractional (coeff of e_i, coeff of e_j) to the nearest
    lattice point; returns normalized IJK.

    Classic cube rounding requires axial axes 60 deg apart; ours are
    120 deg, so change basis to (u, v) = (e_i, e_i + e_j):
    a*e_i + b*e_j = (a - b)*u + b*v.
    """
    q = np.asarray(a, dtype=np.float64) - np.asarray(b, dtype=np.float64)
    r = np.asarray(b, dtype=np.float64)
    y = -q - r
    rq, ry, rr = np.rint(q), np.rint(y), np.rint(r)
    dq, dy, dr = np.abs(rq - q), np.abs(ry - y), np.abs(rr - r)
    fix_q = (dq >= dy) & (dq >= dr)
    fix_y = (~fix_q) & (dy >= dr)
    rq = np.where(fix_q, -(ry + rr), rq)
    # ry only participates via the sum constraint
    rr = np.where(~(fix_q | fix_y), -(rq + ry), rr)
    ai = rq + rr  # back to e_i/e_j coefficients
    bj = rr
    out = np.stack([ai, bj, np.zeros_like(ai)], axis=-1).astype(np.int64)
    out -= out.min(axis=-1, keepdims=True)
    return out


def down_for_res(ijk: np.ndarray, res: int) -> np.ndarray:
    """Apply the aperture-7 refinement that produces resolution ``res``."""
    return down_b(ijk) if res % 2 == 1 else down_a(ijk)


def up_for_res(ijk: np.ndarray, res: int) -> np.ndarray:
    """Invert the refinement that produced resolution ``res``."""
    return up_b(ijk) if res % 2 == 1 else up_a(ijk)


def class_rotation(res: int) -> float:
    """Rotation (radians, CCW) of the res-``res`` lattice frame vs res 0."""
    return AP7_ROT if res % 2 == 1 else 0.0


def res0_to_res_xy(x0: np.ndarray, y0: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Map res-0 u coordinates to res-``res`` lattice coordinates.

    hex2d(down_b(p)) = R(+AP7_ROT) * sqrt(7) * hex2d(p) and down_a the
    mirror, so after r alternating steps: x_r = R(rot) * sqrt(7)^r * x_0
    with rot = +AP7_ROT for odd r, 0 for even r.
    """
    s = SQRT7**res
    rot = class_rotation(res)
    if rot == 0.0:
        return x0 * s, y0 * s
    c, sn = np.cos(rot), np.sin(rot)
    return s * (c * x0 - sn * y0), s * (sn * x0 + c * y0)


def res_to_res0_xy(xr: np.ndarray, yr: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`res0_to_res_xy`."""
    s = SQRT7**res
    rot = class_rotation(res)
    x, y = xr / s, yr / s
    if rot == 0.0:
        return x, y
    c, sn = np.cos(-rot), np.sin(-rot)
    return c * x - sn * y, sn * x + c * y


# ------------------------------------------------------------------ axial
# Fast integer-axial representation used by the hot encode/decode paths:
# a lattice point is (a, b) = coefficients of (e_i, e_j); conversions to
# normalized IJK only at the table-lookup edge. 2 int64 columns instead
# of 3, no normalization in the loop, ~4 ops per aperture-7 step.

# digit <-> axial delta lookup: delta (da, db) in [-1..1]^2
_DIGIT_BY_DELTA = np.full((3, 3), -1, dtype=np.int64)
for _d in range(7):
    _i, _j, _k = DIGIT_IJK[_d]
    _DIGIT_BY_DELTA[_i - _k + 1, _j - _k + 1] = _d
_AXIAL_OF_DIGIT = np.array([[d[0] - d[2], d[1] - d[2]] for d in DIGIT_IJK], dtype=np.int64)


def axial_round(fa: np.ndarray, fb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cube-round fractional axial coords; returns int64 (a, b)."""
    q = fa - fb
    r = fb
    y = -q - r
    rq, ry, rr = np.rint(q), np.rint(y), np.rint(r)
    dq, dy, dr = np.abs(rq - q), np.abs(ry - y), np.abs(rr - r)
    fix_q = (dq >= dy) & (dq >= dr)
    fix_y = (~fix_q) & (dy >= dr)
    rq = np.where(fix_q, -(ry + rr), rq)
    rr = np.where(~(fix_q | fix_y), -(rq + ry), rr)
    return (rq + rr).astype(np.int64), rr.astype(np.int64)


def hex2d_to_axial(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return axial_round(x + y / np.sqrt(3.0), 2.0 * y / np.sqrt(3.0))


def axial_to_hex2d(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return a - 0.5 * b, b * SQRT3_2


# coset lookup tables for the integer chain: a res-r lattice point c
# relates to its parent p as c = M p + d with M the det-7 down matrix
# and d one of the 7 digit offsets — the 7 distinct cosets of the
# M-lattice, identified by a LINEAR residue mod 7 (alpha = (1,-3) for
# M_b / odd levels, (1,2) for M_a / even). Asserted to be a complete
# residue system at import.
_COSET_LUT_B = np.full(7, -1, dtype=np.int64)
_COSET_LUT_A = np.full(7, -1, dtype=np.int64)
for _d in range(7):
    _da, _db = int(_AXIAL_OF_DIGIT[_d, 0]), int(_AXIAL_OF_DIGIT[_d, 1])
    _COSET_LUT_B[(_da - 3 * _db) % 7] = _d
    _COSET_LUT_A[(_da + 2 * _db) % 7] = _d
assert sorted(_COSET_LUT_B) == list(range(7)) and sorted(_COSET_LUT_A) == list(range(7))


def chain_up_digits_axial(a: np.ndarray, b: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Integer-axial chain res -> 0. Returns (a0, b0, digits (...,res)).

    COSET form (round 2; same construction as the JVM expression chain,
    functions/h3_expr): the digit is a linear residue mod 7 and the
    parent an exact integer division — pure int64 ops, no float
    round/tie-fix per level (~3x less work than the float chain it
    replaces; output PROVABLY identical — if the rounded parent ever
    differed from the coset parent, c - M p would fall outside the 7
    offset cosets — and asserted bit-equal against the float
    implementation in tests/test_hexlib.py)."""
    a = np.asarray(a, dtype=np.int64).copy()
    b = np.asarray(b, dtype=np.int64).copy()
    digits = np.empty(a.shape + (res,), dtype=np.int64) if res else np.zeros(a.shape + (0,), dtype=np.int64)
    for r in range(res, 0, -1):
        if r % 2 == 1:  # inverse of down_b: M_b^-1 = 1/7 [[2,1],[-1,3]]
            d = _COSET_LUT_B[(a - 3 * b) % 7]
            off = _AXIAL_OF_DIGIT[d]
            ra = a - off[..., 0]
            rb = b - off[..., 1]
            a, b = (2 * ra + rb) // 7, (-ra + 3 * rb) // 7
        else:  # inverse of down_a: M_a^-1 = 1/7 [[3,-1],[1,2]]
            d = _COSET_LUT_A[(a + 2 * b) % 7]
            off = _AXIAL_OF_DIGIT[d]
            ra = a - off[..., 0]
            rb = b - off[..., 1]
            a, b = (3 * ra - rb) // 7, (ra + 2 * rb) // 7
        digits[..., r - 1] = d
    return a, b, digits


def _chain_up_digits_axial_float(a: np.ndarray, b: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Round-1 float-round implementation, kept as the equivalence
    oracle for the coset form (tests/test_hexlib.py)."""
    digits = np.empty(a.shape + (res,), dtype=np.int64) if res else np.zeros(a.shape + (0,), dtype=np.int64)
    for r in range(res, 0, -1):
        af = a.astype(np.float64)
        bf = b.astype(np.float64)
        if r % 2 == 1:  # inverse of down_b: M_b^-1 = 1/7 [[2,1],[-1,3]]
            pa, pb = axial_round((2.0 * af + bf) / 7.0, (-af + 3.0 * bf) / 7.0)
            ca, cb = 3 * pa - pb, pa + 2 * pb  # down_b
        else:  # inverse of down_a: M_a^-1 = 1/7 [[3,-1],[1,2]]
            pa, pb = axial_round((3.0 * af - bf) / 7.0, (af + 2.0 * bf) / 7.0)
            ca, cb = 2 * pa + pb, -pa + 3 * pb  # down_a
        digits[..., r - 1] = _DIGIT_BY_DELTA[a - ca + 1, b - cb + 1]
        a, b = pa, pb
    return a, b, digits


def chain_down_axial(a: np.ndarray, b: np.ndarray, digits: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of chain_up_digits_axial."""
    for r in range(1, res + 1):
        if r % 2 == 1:
            a, b = 3 * a - b, a + 2 * b
        else:
            a, b = 2 * a + b, -a + 3 * b
        d = _AXIAL_OF_DIGIT[digits[..., r - 1]]
        a = a + d[..., 0]
        b = b + d[..., 1]
    return a, b


def chain_up_digits(ijk_r: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Walk a res-``res`` IJK up to res 0, extracting per-level digits.

    Returns (anchor_ijk at res 0 normalized, digits array of shape
    (..., res) with digits[..., m] = digit at resolution m+1).
    All integer-exact.
    """
    cur = normalize_ijk(np.asarray(ijk_r, dtype=np.int64))
    lead_shape = cur.shape[:-1]
    digits = np.zeros(lead_shape + (max(res, 1),), dtype=np.int64)
    for r in range(res, 0, -1):
        parent = up_for_res(cur, r)
        back = down_for_res(parent, r)
        diff = cur - back
        diff -= diff.min(axis=-1, keepdims=True)  # normalize gauge
        digits[..., r - 1] = 4 * diff[..., 0] + 2 * diff[..., 1] + diff[..., 2]
        cur = parent
    return cur, digits[..., :res]


def chain_down(anchor_ijk: np.ndarray, digits: np.ndarray, res: int) -> np.ndarray:
    """Inverse of :func:`chain_up_digits`: rebuild res-``res`` IJK."""
    cur = normalize_ijk(np.asarray(anchor_ijk, dtype=np.int64))
    for r in range(1, res + 1):
        cur = down_for_res(cur, r) + DIGIT_IJK[digits[..., r - 1]]
        cur = normalize_ijk(cur)
    return cur
