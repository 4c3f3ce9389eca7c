"""Vectorized H3-format cell index API (encode/decode/boundary/kring/...).

From-scratch NumPy implementation of an aperture-7 icosahedral hex grid
with the public H3 64-bit index layout:

    bit 63        : reserved (0)
    bits 62..59   : mode (1 = cell)
    bits 58..56   : reserved (0)
    bits 55..52   : resolution (0..15)
    bits 51..45   : base cell (0..121)
    bits 44..0    : 15 x 3-bit digits, digit 1 highest; unused digits = 7

Cell definition (self-consistent; see hexlib/icosa.py for the derived
face/base-cell tables):

  * ``encode(lat, lng, res)``: the point's nearest icosahedron face has
    authority — project gnomonically, hex-round at res ``res``, chain up
    to res 0 to find the owning base cell, then re-chain the exact
    projection **in the base cell's home-face frame** (see encode's
    docstring for the dispute/clamp handling near seams).
  * ``cell_center``/``cell_boundary`` invert that definition in the home
    frame. encode(center(c)) == c everywhere except warp-gap slivers
    near base-cell seams (<0.1% of an area-uniform global sample —
    property-tested bound; 0% on face-interior regions) and the 12
    pentagon footprints (documented approximation).
  * ``kring`` walks neighbors ring-by-ring via 1-step center probes and
    re-encoding (same seam/pentagon caveats; exact in face interiors).

Semantics mirror the reference's use of the h3 lib (geo_to_h3/polyfill/
k_ring/h3_to_geo_boundary at kraina-ai/hex2vec src/data/make_dataset.py:
19-41 and src/models/h3_neighbor_dataset.py:21-30) without porting any
code; the reference's string cell ids correspond to ``h3_to_string``.
"""

from __future__ import annotations

import numpy as np

from . import hexmath as hm
from . import icosa as ic

H3_MODE_CELL = 1
MAX_RES = 15

_DIGIT_MASK = (np.uint64(1) << np.uint64(45)) - np.uint64(1)


# ---------------------------------------------------------------- packing

def pack(base_cell: np.ndarray, digits: np.ndarray, res: int) -> np.ndarray:
    """(N,), (N,res) int64 -> uint64 H3 index array."""
    h = np.full(base_cell.shape, 0, dtype=np.uint64)
    h |= np.uint64(H3_MODE_CELL) << np.uint64(59)
    h |= np.uint64(res) << np.uint64(52)
    h |= base_cell.astype(np.uint64) << np.uint64(45)
    acc = np.zeros(base_cell.shape, dtype=np.uint64)
    for r in range(1, MAX_RES + 1):
        d = digits[..., r - 1].astype(np.uint64) if r <= res else np.uint64(7)
        acc = (acc << np.uint64(3)) | d
    return h | acc


def unpack(h: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """uint64 -> (res, base_cell, digits[...,15]) ; unused digits are 7."""
    h = np.asarray(h, dtype=np.uint64)
    res = ((h >> np.uint64(52)) & np.uint64(0xF)).astype(np.int64)
    bc = ((h >> np.uint64(45)) & np.uint64(0x7F)).astype(np.int64)
    digits = np.zeros(h.shape + (MAX_RES,), dtype=np.int64)
    for r in range(1, MAX_RES + 1):
        shift = np.uint64(3 * (MAX_RES - r))
        digits[..., r - 1] = ((h >> shift) & np.uint64(0x7)).astype(np.int64)
    return res, bc, digits


def get_resolution(h: np.ndarray) -> np.ndarray:
    return ((np.asarray(h, dtype=np.uint64) >> np.uint64(52)) & np.uint64(0xF)).astype(np.int64)


def h3_to_string(h: np.ndarray) -> np.ndarray:
    flat = np.asarray(h, dtype=np.uint64).ravel()
    return np.array([format(int(v), "x") for v in flat]).reshape(np.shape(h))


def string_to_h3(s) -> np.ndarray:
    arr = np.asarray(s)
    flat = [np.uint64(int(v, 16)) for v in arr.ravel()]
    return np.array(flat, dtype=np.uint64).reshape(arr.shape)


# ---------------------------------------------------------------- encode

# Hierarchical stray bound: a res-r descendant of a base cell strays at
# most sum_k 7^(-k/2) = 0.608 u0 from the anchor; in angle that is at most
# 0.608 * RES0_U = 0.232 rad. Any base cell that can hierarchically claim a
# point therefore has its center within STRAY_RAD of it.
STRAY_RAD = 0.24

# cell circumradius in radians per res (upper bound; tan >= arc)
_CIRC_RAD = np.array([(1.0 / np.sqrt(3.0)) / hm.SQRT7**r * 0.3820 for r in range(MAX_RES + 1)])


def _chain_in_home(xyz: np.ndarray, bc: np.ndarray, res: int):
    """Project ``xyz`` into each row's base-cell home frame and chain up.
    Returns (consistent_with_bc, digits, anchor_key) — anchor_key is the
    (a+2)*5+(b+2) LUT key of the chain's res-0 anchor (-1 if out of the
    anchor window)."""
    home = ic.HOME_FACE[bc]
    xh, yh = ic.project(home, xyz)
    xr, yr = hm.res0_to_res_xy(xh, yh, res)
    a, b = hm.hex2d_to_axial(xr, yr)
    a0, b0, digits = hm.chain_up_digits_axial(a, b, res)
    exp = ic.HOME_AXIAL[bc]
    consistent = (a0 == exp[..., 0]) & (b0 == exp[..., 1])
    in_win = (np.abs(a0) <= 2) & (np.abs(b0) <= 2)
    key = np.where(in_win, (a0 + 2) * 5 + (b0 + 2), -1)
    return consistent, digits, key, home


def encode(lat_deg, lng_deg, res: int) -> np.ndarray:
    """Vectorized geo -> H3 cell index (uint64).

    Identity rule (H3-style point's-face authority): the lattice of the
    point's OWN nearest face decides which res-0 slot — and therefore
    which base cell — the point belongs to; one projection + one integer
    chain per point. When the slot's cell is canonically homed on a
    different face, the point is re-projected EXACTLY into that home
    frame and re-chained there, so packed digits always decode in the
    cell's home frame. Rows the home frame disputes fall to a full
    in-radius home-consistency scan; genuine warp-gap slivers clamp the
    position toward the owning cell's center (geometric ladder +
    bisection) until the home chain accepts it.

    Residual approximation: second-order gnomonic warp between frames
    leaves thin slivers near base-cell seams where the assigned cell
    center can sit beyond 2 cell radii from the point (~2.8% of an
    area-uniform global sample, bounded by the walked gap — max ~370 km,
    never a different face) and center-reencode can flip to a neighbor
    (<0.1%). Face-interior regions — e.g. the engine's active bbox —
    are exact (0 of 200k sampled points).
    """
    lat = np.atleast_1d(np.asarray(lat_deg, dtype=np.float64))
    lng = np.atleast_1d(np.asarray(lng_deg, dtype=np.float64))
    xyz = ic.geo_to_xyz(lat, lng)
    n = xyz.shape[0]
    if n == 0:
        return np.zeros(0, dtype=np.uint64)

    face = np.argmax(xyz.astype(np.float32) @ ic.FACE_CENTER.astype(np.float32).T, axis=1)
    xh, yh = ic.project(face, xyz)
    xr, yr = hm.res0_to_res_xy(xh, yh, res)
    a, b = hm.hex2d_to_axial(xr, yr)
    a0, b0, digits = hm.chain_up_digits_axial(a, b, res)
    in_win = (np.abs(a0) <= 2) & (np.abs(b0) <= 2)
    key = np.where(in_win, (a0 + 2) * 5 + (b0 + 2), -1)
    bc = np.where(key >= 0, ic.ANCHOR_KEY_BC[face, np.maximum(key, 0)], -1)

    best_bc = np.full(n, -1, dtype=np.int64)
    best_digits = np.empty((n, res), dtype=np.int64)

    ok = bc >= 0
    same = ok & (ic.HOME_FACE[np.maximum(bc, 0)] == face)
    best_bc[same] = bc[same]
    best_digits[same] = digits[same]

    foreign = ok & ~same
    if np.any(foreign):
        # the point's face says the point belongs to cell X homed on a
        # different face: chain the EXACT projection of the point in X's
        # home frame (the transfer between gnomonic frames is exact for
        # a physical point — no linear approximation)
        g = np.where(foreign)[0]
        bc_g = bc[g]
        consistent, dgh, _, _ = _chain_in_home(xyz[g], bc_g, res)
        gc = g[consistent]
        best_bc[gc] = bc_g[consistent]
        best_digits[gc] = dgh[consistent]
        # rows whose home chain disagrees fall to the consistency scan
        # below (some other cell may claim them exactly); true gaps get
        # the clamp there as last resort

    rows = np.where(best_bc < 0)[0]
    if rows.size:
        # seam slivers + anchor-window misses: home-frame consistency
        # scan over every in-radius base cell (lowest consistent id wins)
        cos_thresh = np.float32(np.cos(STRAY_RAD + _CIRC_RAD[res] + 0.02))
        cos_all = xyz[rows].astype(np.float32) @ ic.BC_CENTER.astype(np.float32).T
        ids = np.broadcast_to(np.arange(122, dtype=np.int16), (len(rows), 122))
        cand = np.where(cos_all >= cos_thresh, ids, np.int16(999)).copy()
        cand.sort(axis=1)
        und = np.arange(len(rows))
        for k in range(cand.shape[1]):
            if und.size == 0:
                break
            bc_k = cand[und, k]
            act = bc_k < 999
            if not np.any(act):
                break
            sel = und[act]
            bc_s = bc_k[act].astype(np.int64)
            g = rows[sel]
            consistent, dgc, _, _ = _chain_in_home(xyz[g], bc_s, res)
            gw = g[consistent]
            best_bc[gw] = bc_s[consistent]
            best_digits[gw] = dgc[consistent]
            und = sel[~consistent]
        left = np.where(best_bc < 0)[0]
        if left.size:
            # genuine gap slivers: no cell's home chain accepts the
            # point (second-order gnomonic warp between frames). Keep
            # the face-authority identity where available (else nearest
            # center) and CLAMP the position: walk the point toward the
            # owning cell's center on the sphere with a fixed geometric
            # ladder until its home chain accepts it (t=1 is the center
            # itself, so the ladder terminates). Deterministic; decode
            # error bounded by ~the walked distance (the warp gap) — not
            # a different face.
            bc_l = np.where(
                bc[left] >= 0,
                bc[left],
                np.argmax(xyz[left] @ ic.BC_CENTER.T, axis=1).astype(np.int64),
            )
            c = ic.BC_CENTER[bc_l]
            base = xyz[left]

            def _probe(idx, t_arr):
                p = (1.0 - t_arr[:, None]) * base[idx] + t_arr[:, None] * c[idx]
                p = p / np.linalg.norm(p, axis=1, keepdims=True)
                return _chain_in_home(p, bc_l[idx], res)

            # coarse geometric ladder to bracket the acceptance
            # threshold, probing only still-undone rows per step
            t_hi = np.ones(len(left))
            t_lo = np.zeros(len(left))
            active = np.arange(len(left))
            for step in range(9):
                if active.size == 0:
                    break
                t = np.full(len(active), 2.0 ** (step - 8))  # 1/256 .. 1
                cons, _, _, _ = _probe(active, t)
                t_hi[active[cons]] = t[cons]
                t_lo[active[~cons]] = t[~cons]
                active = active[~cons]
            # bisection refine: halve the walked distance a few times
            allr = np.arange(len(left))
            for _ in range(5):
                t_mid = 0.5 * (t_lo + t_hi)
                cons, _, _, _ = _probe(allr, t_mid)
                t_hi = np.where(cons, t_mid, t_hi)
                t_lo = np.where(cons, t_lo, t_mid)
            # t_hi was accepted at least once (t=1 is the center)
            _, dgt, _, _ = _probe(allr, t_hi)
            best_bc[left] = bc_l
            best_digits[left] = dgt
    return pack(best_bc, best_digits, res)


# ---------------------------------------------------------------- decode

def _cells_to_home_xy(h: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """-> (home_face, res, x0, y0): center coords in res-0 u units of the
    home-face frame."""
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    res_arr, bc, digits = unpack(h)
    res = int(res_arr[0]) if res_arr.size else 0
    if res_arr.size and not np.all(res_arr == res):
        raise ValueError("mixed resolutions in one batch are not supported")
    # validate before table lookups: a malformed id would otherwise
    # surface as a bare IndexError deep inside NumPy
    if bc.size and (int(bc.max()) > 121 or int(bc.min()) < 0):
        raise ValueError(f"invalid base cell in H3 index (max {int(bc.max())}, must be 0..121)")
    if res and digits.size and int(digits[..., :res].max()) > 6:
        raise ValueError("invalid digit > 6 in H3 index")
    home = ic.HOME_FACE[bc]
    ha = ic.HOME_AXIAL[bc]
    a, b = hm.chain_down_axial(ha[..., 0].copy(), ha[..., 1].copy(), digits, res)
    xr, yr = hm.axial_to_hex2d(a, b)
    x0, y0 = hm.res_to_res0_xy(xr, yr, res)
    return home, res_arr, x0, y0


def cell_center(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 cells -> (lat_deg, lng_deg) of cell centers."""
    home, _, x0, y0 = _cells_to_home_xy(h)
    return ic.xyz_to_geo(ic.unproject(home, x0, y0))


def cell_boundary(h: np.ndarray) -> np.ndarray:
    """uint64 cells -> (N, 6, 2) boundary vertices (lat, lng) degrees.

    Pentagon cells return 6 vertices of the undistorted home-frame hexagon
    (documented approximation for the 12 pentagon footprints).
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    home, res_arr, x0, y0 = _cells_to_home_xy(h)
    res = int(res_arr[0]) if res_arr.size else 0
    circ = (1.0 / np.sqrt(3.0)) / hm.SQRT7**res
    # direction at angle b in the res-r frame appears at b - rot in res 0
    ang = np.radians(30.0 + 60.0 * np.arange(6)) - hm.class_rotation(res)
    vx = x0[:, None] + circ * np.cos(ang)[None, :]
    vy = y0[:, None] + circ * np.sin(ang)[None, :]
    lat, lng = ic.xyz_to_geo(ic.unproject(home[:, None], vx, vy))
    return np.stack([lat, lng], axis=-1)


def cell_to_parent(h: np.ndarray, parent_res: int) -> np.ndarray:
    """Truncate digits to ``parent_res`` (exact, pure bit ops)."""
    h = np.asarray(h, dtype=np.uint64)
    res = get_resolution(h)
    if np.any(res < parent_res):
        raise ValueError("parent_res coarser than cell res required")
    out = h & ~(np.uint64(0xF) << np.uint64(52))
    out |= np.uint64(parent_res) << np.uint64(52)
    n_fill = MAX_RES - parent_res
    if n_fill:
        fill_mask = (np.uint64(1) << np.uint64(3 * n_fill)) - np.uint64(1)
        out |= fill_mask
    return out


# ------------------------------------------------------------- neighbors

def neighbors(h: np.ndarray) -> np.ndarray:
    """(N,) cells -> (N, 6) neighbor cells via 1-step center probes.

    Probes are placed at the 6 adjacent lattice centers in each cell's
    home frame and re-encoded; exact wherever the grid is regular (may
    return duplicates/self near the 12 pentagons — callers dedupe).
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    home, res_arr, x0, y0 = _cells_to_home_xy(h)
    res = int(res_arr[0]) if res_arr.size else 0
    step = 1.0 / hm.SQRT7**res
    ang = np.radians(60.0 * np.arange(6)) - hm.class_rotation(res)
    px = x0[:, None] + step * np.cos(ang)[None, :]
    py = y0[:, None] + step * np.sin(ang)[None, :]
    lat, lng = ic.xyz_to_geo(ic.unproject(home[:, None], px, py))
    return encode(lat.ravel(), lng.ravel(), res).reshape(-1, 6)


def kring(h: np.ndarray, k: int) -> list[np.ndarray]:
    """Per input cell, the unique set of cells within grid distance k
    (including the cell itself). Returns a list of uint64 arrays.

    BFS over :func:`neighbors`, deduped per source cell; mirrors the
    reference's h3.k_ring usage (h3_neighbor_dataset.py:22,28).
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    n = h.shape[0]
    seen = [{int(c)} for c in h]
    frontier = h.copy()
    owner = np.arange(n)
    for _ in range(k):
        if frontier.size == 0:
            break
        nb = neighbors(frontier)  # (m, 6)
        next_cells: list[int] = []
        next_owner: list[int] = []
        for row, o in zip(nb, owner):
            s = seen[o]
            for c in row:
                ci = int(c)
                if ci not in s:
                    s.add(ci)
                    next_cells.append(ci)
                    next_owner.append(o)
        frontier = np.array(next_cells, dtype=np.uint64)
        owner = np.array(next_owner, dtype=np.int64)
    return [np.array(sorted(s), dtype=np.uint64) for s in seen]


def kring_flat(h: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Flattened kring: (src_index, cell) parallel arrays.

    Fully vectorized for k <= 2 (the engine's hot path: J5/J6 context
    pairs use k in {1, 2}); falls back to BFS for larger k.
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    n = h.shape[0]
    if n == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.uint64)
    if k == 0:
        return np.arange(n), h.copy()
    if k <= 2:
        n1 = neighbors(h)  # (N, 6)
        cand = [h[:, None], n1]
        if k == 2:
            n2 = neighbors(n1.reshape(-1)).reshape(n, 36)
            cand.append(n2)
        c = np.concatenate(cand, axis=1)
        c.sort(axis=1)
        keep = np.ones(c.shape, dtype=bool)
        keep[:, 1:] = c[:, 1:] != c[:, :-1]
        src = np.broadcast_to(np.arange(n)[:, None], c.shape)[keep]
        return src, c[keep]
    rings = kring(h, k)
    src = np.repeat(np.arange(len(rings)), [len(r) for r in rings])
    cells = np.concatenate(rings) if rings else np.array([], dtype=np.uint64)
    return src, cells


# --------------------------------------------------------------- metrics

def _edge_lengths_m() -> np.ndarray:
    """Approximate mean hex edge length per res, from center spacing at a
    face center (edge = spacing / sqrt(3)); spherical earth R=6371.0088km."""
    out = np.zeros(MAX_RES + 1)
    r_earth = 6_371_008.8
    for res in range(MAX_RES + 1):
        step = 1.0 / hm.SQRT7**res
        a = ic.unproject(np.array([0]), np.array([0.0]), np.array([0.0]))[0]
        b = ic.unproject(np.array([0]), np.array([step]), np.array([0.0]))[0]
        spacing = np.arccos(np.clip(a @ b, -1, 1)) * r_earth
        out[res] = spacing / np.sqrt(3.0)
    return out


EDGE_LENGTH_M = _edge_lengths_m()


def edge_length_m(res: int) -> float:
    """Mean hex edge length in meters (reference: h3.edge_length,
    make_dataset.py:62 used for the 2x-edge tiling buffer)."""
    return float(EDGE_LENGTH_M[res])


# --------------------------------------------------------------- polyfill

def cells_covering_bbox(
    ring_lat: np.ndarray, ring_lng: np.ndarray, res: int, pad_cells: float = 2.0
) -> np.ndarray:
    """Every cell intersecting the polygon bbox padded by ``pad_cells``
    center-spacings — the grid-native equivalent of the reference's
    metric-buffered polyfill candidate set (make_dataset.py:61-65
    buffers by 2x edge).

    Enumerated by HOME-FRAME LATTICE WALK (:func:`_lattice_candidates`),
    not by encode() of sample points: near base-cell seams encode's
    point's-face authority displaces cell preimages, so a cell can
    intersect the bbox while NO sample point encodes to it (round-1
    advisor repro: res 8 near lat=-1.0, lng=167.25 silently dropped cell
    614716711114899455 from a fixed-phase lattice). A cell's center in
    its OWN home frame is exactly its lattice point — no warp, no
    encode — so the walk is complete by construction and cheaper
    (one integer chain per candidate vs a trig encode per ~8x
    oversampled grid point)."""
    ring_lat = np.asarray(ring_lat, dtype=np.float64)
    ring_lng = np.asarray(ring_lng, dtype=np.float64)
    _, cells = _lattice_candidates(
        np.array([ring_lat.min()]), np.array([ring_lat.max()]),
        np.array([ring_lng.min()]), np.array([ring_lng.max()]),
        res, pad_cells,
    )
    return np.unique(cells)


# max half-diagonal (radians) of a bbox the lattice walk accepts; beyond
# this (~2200 km) the in-reach ball geometry below loses its projection-
# validity bound. No operational path needs larger covers (the reference
# polyfills city regions, make_dataset.py:26-58).
_WALK_MAX_RAD = 0.35


def _lattice_candidates(
    lat0, lat1, lng0, lng1, res: int, pad_cells: float
) -> tuple[np.ndarray, np.ndarray]:
    """Candidate cells for P lat/lng bboxes, enumerated in HOME-FRAME
    lattice space. Returns (box_idx int64, cell uint64) pairs covering
    every existing cell whose footprint intersects box ``i`` padded by
    ``pad_cells`` center-spacings (a superset; callers refine exactly).

    Completeness argument, per (box, base-cell) pair:
      1. a cell whose footprint intersects the padded bbox has its
         center within circumradius+pad of the bbox, and every cell's
         center lies within STRAY_RAD of its base cell's center
         (measured 0.224 rad max; h3core.py:99), so the center lies in
         REGION = bbox_expanded  ∩  ball(bc_center, R_b);
      2. the cell's center in its OWN home frame is exactly its lattice
         point (cell id == (bc, digit chain) == home-frame lattice
         point — definitionally, no warp involved);
      3. gnomonic projection is a homeomorphism on d > 0 and REGION
         projects with d >= cos(0.65 + R_b) >= 0.55 (max bc-to-home-face
         distance measured 0.652 rad), so image(REGION) is enclosed by
         image(boundary(REGION)); the window below is a bounding box of
         densely sampled boundary(REGION) images padded by the sampling
         sagitta — hence contains the lattice point;
      4. enumerating every integer lattice point in the window and
         keeping those whose chain lands in this bc's anchor slot yields
         the cell (each existing cell exactly once per its home bc).

    This replaces encode()-of-sample-points enumeration, whose preimages
    are displaced near base-cell seams (cells could be silently dropped
    — round-1 advisor finding, repro pinned in tests/test_properties.py).
    """
    lat0 = np.atleast_1d(np.asarray(lat0, dtype=np.float64))
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    lng0 = np.atleast_1d(np.asarray(lng0, dtype=np.float64))
    lng1 = np.atleast_1d(np.asarray(lng1, dtype=np.float64))
    P = len(lat0)
    if P == 0 or res > 12:
        if res > 12:
            raise ValueError("lattice walk supports res <= 12 (key packing)")
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)

    spacing_rad = EDGE_LENGTH_M[res] * np.sqrt(3.0) / 6_371_008.8
    pad_rad = (pad_cells + 1.0) * spacing_rad
    # COARSE resolutions (res <= 1: <= ~842 cells globally) use
    # FULL-WINDOW mode: every in-reach base cell contributes its entire
    # home window, no boundary sampling, no ball geometry. The sampled
    # path genuinely breaks there — pad_rad alone is 0.3-0.9 rad, which
    # trips the _WALK_MAX_RAD check for a 0.2-degree polygon and pushes
    # the ball tier past its projection-validity bound (round-2 review
    # finding). res >= 2 stays on the sampled path: full-window there
    # measured ~500x slower for batched small-polygon covers (every
    # pair enumerates its bc's whole (2B+1)^2 window).
    full_window = res <= 1

    # --- bbox boundary samples (K per edge) + bbox center/radius.
    # K adapts to the bbox size in CELLS: sub-cell polygons (the typical
    # batched-cover input) need only a handful of samples per edge — the
    # sagitta pad covers the rest — and this sandbox charges heavily for
    # large fresh allocations (first-touch page faults: 48 samples/edge
    # across 500 polys measured 1.2s inside ic.project alone)
    max_span = float(
        np.radians(np.maximum(lat1 - lat0, lng1 - lng0)).max(initial=0.0)
    )
    K = int(np.clip(2 * np.ceil(max_span / spacing_rad), 8, 48))
    t = np.linspace(0.0, 1.0, K)
    e_lat = np.empty((P, 4 * K))
    e_lng = np.empty((P, 4 * K))
    e_lat[:, 0*K:1*K] = lat0[:, None]
    e_lng[:, 0*K:1*K] = lng0[:, None] + (lng1 - lng0)[:, None] * t
    e_lat[:, 1*K:2*K] = lat1[:, None]
    e_lng[:, 1*K:2*K] = e_lng[:, 0*K:1*K]
    e_lat[:, 2*K:3*K] = lat0[:, None] + (lat1 - lat0)[:, None] * t
    e_lng[:, 2*K:3*K] = lng0[:, None]
    e_lat[:, 3*K:4*K] = e_lat[:, 2*K:3*K]
    e_lng[:, 3*K:4*K] = lng1[:, None]
    exyz = ic.geo_to_xyz(e_lat.ravel(), e_lng.ravel()).reshape(P, 4 * K, 3)
    cxyz = ic.geo_to_xyz(0.5 * (lat0 + lat1), 0.5 * (lng0 + lng1))
    box_rad = np.arccos(
        np.clip(np.einsum("pkj,pj->pk", exyz, cxyz), -1.0, 1.0)
    ).max(axis=1)
    if not full_window and float(box_rad.max(initial=0.0)) + pad_rad > _WALK_MAX_RAD:
        raise ValueError(
            f"bbox half-diagonal {float(box_rad.max()):.3f} rad (+ pad "
            f"{pad_rad:.3f}) exceeds the lattice-walk bound {_WALK_MAX_RAD} "
            "(cover of >~2200 km-radius polygons at res >= 4 is unsupported "
            "— split the polygon first)"
        )

    # --- in-reach (box, base cell) pairs
    R_b = STRAY_RAD + _CIRC_RAD[res] + pad_rad + 0.02
    reach = box_rad + pad_rad + _CIRC_RAD[res] + STRAY_RAD + 0.03
    cosd = cxyz @ ic.BC_CENTER.T  # (P, 122)
    # clamp: reach is an ANGULAR radius — beyond pi it means "the whole
    # sphere", but cos() wraps UPWARD past pi and would silently
    # EXCLUDE the far base cells (advisor repro: near-global bbox at
    # res 0 returned 62 of 122 cells). cos(pi) = -1 keeps every cell.
    p_i, bc_i = np.nonzero(cosd >= np.cos(np.minimum(reach, np.pi))[:, None])
    if p_i.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    n_pairs = len(p_i)
    face_i = ic.HOME_FACE[bc_i]

    # --- boundary(REGION) samples per pair. Two tiers:
    #   DIRECT (the practical case, ~all pairs): every bbox boundary
    #     sample projects validly into the home frame (d >= 0.3) —
    #     REGION's boundary is covered by the bbox boundary alone, and
    #     the sagitta pad comes from the tight bbox sample gaps.
    #   BALL (rare: large bbox whose far side dips below the frame
    #     horizon): restrict to ball(bc_c, R_b) — cells claimed by bc
    #     live inside it — by PULLING each bbox sample to distance
    #     min(dist, R_b) along its geodesic from bc_c (the pulled curve
    #     traces boundary(bbox ∩ ball) at bbox-sample density) plus a
    #     clipped M-point ball circle; everything then projects with
    #     d >= cos(0.652 + R_b) >= 0.55.
    if full_window:
        # every in-reach bc contributes its whole home window: cells
        # homed on a bc have hex2d magnitude <= ~3.5 u at res 0, i.e.
        # axial |a|,|b| <= 4.1 * sqrt7^res at res level; +2 margin
        B = int(np.ceil(4.1 * hm.SQRT7 ** res)) + 2
        i0 = np.full(n_pairs, -B, dtype=np.int64)
        i1 = np.full(n_pairs, B, dtype=np.int64)
        j0, j1 = i0.copy(), i1.copy()
        p_l, bc_l = p_i, bc_i
        return _enumerate_windows(p_l, bc_l, i0, i1, j0, j1, res)

    ksl = np.maximum(
        np.radians(np.maximum(lat1 - lat0, lng1 - lng0)) / K, spacing_rad
    )[p_i] + pad_rad
    es = exyz[p_i]  # (n_pairs, 4K, 3)
    fc = ic.FACE_CENTER[face_i]  # (n_pairs, 3)
    d_all = np.einsum("pkj,pj->pk", es, fc)
    direct = d_all.min(axis=1) >= 0.3

    samples = es.copy()
    # per-pair max sample-gap (radians) for the sagitta pad. On the
    # DIRECT tier this is the true bbox-edge sample spacing (span/K) —
    # NOT ksl, which additionally carries the clip slack + pad and would
    # inflate sag_ax by ~2 cells per side on small polygons (measured
    # ~3x more candidates into the exact refine)
    gap_rad = (np.radians(np.maximum(lat1 - lat0, lng1 - lng0)) / K)[p_i]
    nd = np.nonzero(~direct)[0]
    if nd.size:
        bcc = ic.BC_CENTER[bc_i]  # (n_pairs, 3); only the ball tier needs it
        b = bcc[nd][:, None, :]  # (m, 1, 3)
        s = es[nd]  # (m, 4K, 3)
        cosd_s = np.clip(np.einsum("mkj,m1j->mk", s, b), -1.0, 1.0)
        theta = np.arccos(cosd_s)
        Rb = R_b + ksl[nd][:, None]
        t = np.minimum(1.0, Rb / np.maximum(theta, 1e-12))
        sin_t = np.sin(np.maximum(theta, 1e-12))
        pulled = (
            np.sin((1.0 - t) * theta)[..., None] * b + np.sin(t * theta)[..., None] * s
        ) / sin_t[..., None]
        pulled /= np.linalg.norm(pulled, axis=2, keepdims=True)
        # clipped ball circle (M points, kept only inside the padded bbox)
        M = 96
        th = np.linspace(0.0, 2.0 * np.pi, M, endpoint=False)
        bc2 = bcc[nd]
        ax = np.zeros_like(bc2)
        ax[:, 2] = 1.0
        degen = np.abs(bc2[:, 2]) > 0.9
        ax[degen] = [1.0, 0.0, 0.0]
        u = np.cross(bc2, ax)
        u /= np.linalg.norm(u, axis=1, keepdims=True)
        v = np.cross(bc2, u)
        circ = (
            np.cos(R_b) * bc2[:, None, :]
            + np.sin(R_b)
            * (np.cos(th)[None, :, None] * u[:, None, :] + np.sin(th)[None, :, None] * v[:, None, :])
        )  # (m, M, 3)
        c_lat, c_lng = ic.xyz_to_geo(circ.reshape(-1, 3))
        c_lat = c_lat.reshape(len(nd), M)
        c_lng = c_lng.reshape(len(nd), M)
        pad_deg = np.degrees(pad_rad + ksl[nd])
        coslat_min = np.maximum(
            np.cos(np.radians(np.maximum(np.abs(lat0), np.abs(lat1))[p_i[nd]] + pad_deg)), 0.05
        )
        in_box = (
            (c_lat >= (lat0[p_i[nd]] - pad_deg)[:, None])
            & (c_lat <= (lat1[p_i[nd]] + pad_deg)[:, None])
            & (c_lng >= (lng0[p_i[nd]] - (pad_deg / coslat_min))[:, None])
            & (c_lng <= (lng1[p_i[nd]] + (pad_deg / coslat_min))[:, None])
        )
        # out-of-box circle points collapse to bc_c (inside REGION's hull
        # whenever the circle matters, so they never widen the window)
        circ = np.where(in_box[..., None], circ, bc2[:, None, :])
        pulled = np.concatenate([pulled, circ, bc2[:, None, :]], axis=1)
        # pad the direct pairs' sample arrays to equal width for one
        # vectorized projection (repeat last sample)
        extra = pulled.shape[1] - samples.shape[1]
        samples = np.concatenate(
            [samples, np.repeat(samples[:, -1:, :], extra, axis=1)], axis=1
        )
        samples[nd] = pulled
        gap_rad[nd] = np.maximum(ksl[nd], 2.0 * np.pi * float(R_b) / M)

    # --- project into each pair's home frame -> fractional res-level
    # axial coords; window = min/max + pads
    S = samples.shape[1]
    face_b = np.broadcast_to(face_i[:, None], (n_pairs, S))
    sx, sy = ic.project(face_b.reshape(-1), samples.reshape(-1, 3))
    s7 = hm.SQRT7 ** res
    rot = hm.class_rotation(res)
    if rot != 0.0:
        cr, sr = np.cos(rot), np.sin(rot)
        sx, sy = s7 * (cr * sx - sr * sy), s7 * (sr * sx + cr * sy)
    else:
        sx, sy = sx * s7, sy * s7
    fa = (sx + sy / np.sqrt(3.0)).reshape(n_pairs, S)
    fb = (2.0 * sy / np.sqrt(3.0)).reshape(n_pairs, S)
    amin, amax = fa.min(axis=1), fa.max(axis=1)
    bmin, bmax = fb.min(axis=1), fb.max(axis=1)

    # pads, in axial units (1 axial unit ~ 1 center spacing): the
    # geometric pad, the clip slack, and the sampling sagitta (image-arc
    # deviation between adjacent samples; gnomonic scale <= 1/d^2 with
    # d >= 0.3 here, bounded by 12/RES0_U u per rad^2)
    sag_ax = (gap_rad ** 2) * (12.0 / ic.RES0_U) * s7 * 1.16
    # clip slack only applies where clipping happened (the ball tier);
    # direct windows carry the full unclipped bbox boundary
    slack_ax = np.where(direct, 0.0, ksl / spacing_rad)
    pad_ax = np.ceil(1.16 * (pad_cells + 1.0) + slack_ax + sag_ax + 1.0)
    i0 = np.floor(amin - pad_ax).astype(np.int64)
    i1 = np.ceil(amax + pad_ax).astype(np.int64)
    j0 = np.floor(bmin - pad_ax).astype(np.int64)
    j1 = np.ceil(bmax + pad_ax).astype(np.int64)
    return _enumerate_windows(p_i, bc_i, i0, i1, j0, j1, res)


def _enumerate_windows(
    p_l: np.ndarray,
    bc_l: np.ndarray,
    i0: np.ndarray,
    i1: np.ndarray,
    j0: np.ndarray,
    j1: np.ndarray,
    res: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Enumerate integer lattice points of per-(box, bc) axial windows,
    chain each DISTINCT point once, keep those that are real cells of
    their window's bc. Returns (box_idx, cell) pairs (with duplicates
    across windows; callers dedupe)."""
    n_a = i1 - i0 + 1
    n_b = j1 - j0 + 1
    k = n_a * n_b
    starts = np.zeros(len(k) + 1, dtype=np.int64)
    np.cumsum(k, out=starts[1:])
    total = int(starts[-1])
    idx = np.arange(total, dtype=np.int64)
    pair = np.searchsorted(starts, idx, side="right") - 1
    within = idx - starts[pair]
    ga = i0[pair] + within // n_b[pair]
    gb = j0[pair] + within % n_b[pair]

    # dedupe shared (bc, a, b) lattice points across overlapping boxes:
    # chain each distinct point ONCE (the cross-box work sharing that
    # made the old global geo-lattice batched path fast)
    OFF = np.int64(1) << np.int64(26)  # |a|,|b| <= 6*sqrt7^12 < 2^26
    key = (bc_l[pair].astype(np.int64) * (OFF << 1) + (ga + OFF)) * (OFF << 1) + (gb + OFF)
    uniq, inv = np.unique(key, return_inverse=True)
    u_bc = (uniq // ((OFF << 1) * (OFF << 1))).astype(np.int64)
    u_a = (uniq // (OFF << 1)) % (OFF << 1) - OFF
    u_b = uniq % (OFF << 1) - OFF
    a0, b0, digits = hm.chain_up_digits_axial(u_a, u_b, res)
    in_win = (np.abs(a0) <= 2) & (np.abs(b0) <= 2)
    key0 = np.where(in_win, (a0 + 2) * 5 + (b0 + 2), 0)
    u_face = ic.HOME_FACE[u_bc]
    bc_got = ic.ANCHOR_KEY_BC[u_face, key0]
    valid = in_win & (bc_got == u_bc)
    ids = np.zeros(len(uniq), dtype=np.uint64)
    if np.any(valid):
        ids[valid] = pack(u_bc[valid], digits[valid], res)
    pt_valid = valid[inv]
    return p_l[pair[pt_valid]], ids[inv[pt_valid]]


def cover_intersect_batch(
    rings_lat, rings_lng, res: int, pad_cells: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Batched 'cells intersecting polygon' for MANY polygons at once:
    returns (poly_idx int64, cell uint64) pairs. Semantically equal to
    per-polygon ``cells_covering_bbox`` + ``polygons_intersect_hexes``
    (the candidate set is a complete superset either way — same
    home-frame lattice walk, see :func:`_lattice_candidates` — and the
    exact intersect refine makes the result identical), but one batched
    walk + one pairwise predicate call for the whole batch —
    per-polygon Python overhead measured ~1.5 ms/poly disappears, and
    overlapping polygons share per-lattice-point chain work.

    ``rings_lat``/``rings_lng`` are sequences of per-polygon vertex
    arrays (variable length)."""
    from .geom import polygons_intersect_hexes_pairs

    P = len(rings_lat)
    if P == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    R = max(len(r) for r in rings_lat)
    ring_lat = np.empty((P, R), dtype=np.float64)
    ring_lng = np.empty((P, R), dtype=np.float64)
    for i in range(P):
        r_lat = np.asarray(rings_lat[i], dtype=np.float64)
        r_lng = np.asarray(rings_lng[i], dtype=np.float64)
        # validate loudly: a short/mismatched ring would leave np.empty
        # garbage in the padding, a NaN would cast to INT64_MIN in the
        # grid sizing, and either silently corrupts the whole batch
        if len(r_lat) != len(r_lng) or len(r_lat) < 3:
            raise ValueError(
                f"ring {i}: need >=3 matching lat/lng vertices "
                f"(got {len(r_lat)}/{len(r_lng)})"
            )
        if not (np.isfinite(r_lat).all() and np.isfinite(r_lng).all()):
            raise ValueError(f"ring {i}: non-finite vertex")
        if r_lng.max() - r_lng.min() > 180.0:
            raise ValueError(
                f"ring {i}: lng span > 180 deg (antimeridian-crossing "
                "polygons are unsupported — split at the seam first)"
            )
        ring_lat[i, : len(r_lat)] = r_lat
        ring_lng[i, : len(r_lng)] = r_lng
        if len(r_lat) < R:  # pad by repeating the last vertex (predicate-safe)
            ring_lat[i, len(r_lat):] = r_lat[-1]
            ring_lng[i, len(r_lng):] = r_lng[-1]

    lat0, lat1 = ring_lat.min(axis=1), ring_lat.max(axis=1)
    lng0, lng1 = ring_lng.min(axis=1), ring_lng.max(axis=1)
    poly, cells = _lattice_candidates(lat0, lat1, lng0, lng1, res, pad_cells)

    # unique (poly, cell) pairs
    order = np.lexsort((cells, poly))
    p_s, c_s = poly[order], cells[order]
    first = np.ones(len(p_s), dtype=bool)
    first[1:] = (p_s[1:] != p_s[:-1]) | (c_s[1:] != c_s[:-1])
    p_u, c_u = p_s[first], c_s[first]

    # boundaries once per unique CELL (a cell appears in many polygons'
    # candidate sets), gathered per pair
    cu_uniq, cu_inv = np.unique(c_u, return_inverse=True)
    verts_u = cell_boundary(cu_uniq)  # (U, 6, 2)
    verts = verts_u[cu_inv]

    # cheap exact prefilter: disjoint bboxes can't intersect. Candidates
    # span the PADDED bbox, so this drops the pad ring before the
    # orient-heavy full predicate (~3-4x fewer pairs).
    hx_lat, hx_lng = verts[:, :, 0], verts[:, :, 1]
    overlap = (
        (hx_lat.max(axis=1) >= lat0[p_u]) & (hx_lat.min(axis=1) <= lat1[p_u])
        & (hx_lng.max(axis=1) >= lng0[p_u]) & (hx_lng.min(axis=1) <= lng1[p_u])
    )
    p_u, c_u = p_u[overlap], c_u[overlap]
    verts = verts[overlap]

    hit = polygons_intersect_hexes_pairs(
        verts[:, :, 0], verts[:, :, 1], ring_lat[p_u], ring_lng[p_u]
    )
    return p_u[hit], c_u[hit]


def polyfill(
    ring_lat: np.ndarray, ring_lng: np.ndarray, res: int, holes=()
) -> np.ndarray:
    """All cells whose center lies inside the polygon (h3.polyfill
    semantics; make_dataset.py:41). Vectorized grid-sample + re-encode,
    then keep cells whose center passes point-in-polygon.  ``holes``
    (round 5): optional list of (hole_lat, hole_lng) interior rings —
    centers inside a hole are excluded (even-odd, same as h3.polyfill
    on a GeoJSON polygon with interior rings)."""
    from .geom import points_in_polygon_with_holes

    cells = cells_covering_bbox(ring_lat, ring_lng, res, pad_cells=1.0)
    clat, clng = cell_center(cells)
    inside = points_in_polygon_with_holes(
        clat, clng,
        np.asarray(ring_lat, dtype=np.float64), np.asarray(ring_lng, dtype=np.float64),
        holes,
    )
    return cells[inside]


def grid_path(a: np.ndarray, b: np.ndarray, max_steps: int | None = None) -> list[np.ndarray]:
    """Cell path from each a[i] to b[i] (h3.h3_line analog): a greedy
    geodesic walk — at every step move to the neighbor whose center is
    closest to the target's center, with a direct jump whenever the
    target is already adjacent.  Returns one uint64 array per pair,
    inclusive of both endpoints.

    On the regular interior of a face the greedy walk IS a shortest
    lattice path (every step reduces grid distance by 1); near seams it
    stays *valid* (every consecutive pair adjacent) but may detour, and
    a pair whose walk fails to converge within ``max_steps`` raises
    (the face-local scope statement, SURVEY.md §1.4, applies to paths
    exactly as it does to k-rings).  All pairs advance in lockstep —
    one vectorized :func:`neighbors` + :func:`cell_center` call per
    step, no per-pair Python loops over cells.
    """
    from . import geom

    a = np.atleast_1d(np.asarray(a, dtype=np.uint64))
    b = np.atleast_1d(np.asarray(b, dtype=np.uint64))
    if a.shape != b.shape:
        raise ValueError("a and b must have the same shape")
    if len(a) == 0:
        return []
    # uniform-resolution validation up front (round-4 advisor): a batch
    # mixing resolutions would size max_steps from the wrong edge length
    # (spurious non-convergence errors or wild step budgets), and an
    # a/b mismatch only surfaced after the walk failed
    res_a = get_resolution(a)
    res_b = get_resolution(b)
    if not (np.all(res_a == res_a[0]) and np.all(res_b == res_a[0])):
        raise ValueError(
            "grid_path: all cells must share one resolution; got a res in "
            f"{sorted(set(res_a.tolist()))}, b res in {sorted(set(res_b.tolist()))}"
        )
    res = int(res_a[0])
    tlat, tlng = cell_center(b)
    clat, clng = cell_center(a)
    if max_steps is None:
        d0 = geom.haversine_m(clat, clng, tlat, tlng)
        max_steps = int(4.0 * (float(d0.max()) / edge_length_m(res) + 8.0))

    cur = a.copy()
    paths: list[list[int]] = [[int(c)] for c in a]
    active = cur != b
    for _ in range(max_steps):
        idx = np.nonzero(active)[0]
        if idx.size == 0:
            break
        nb = neighbors(cur[idx])  # (m, 6)
        hit = nb == b[idx][:, None]
        nlat, nlng = cell_center(nb.ravel())
        d = geom.haversine_m(
            nlat.reshape(-1, 6), nlng.reshape(-1, 6), tlat[idx][:, None], tlng[idx][:, None]
        )
        nxt = nb[np.arange(idx.size), d.argmin(axis=1)]
        jump = hit.any(axis=1)
        nxt[jump] = b[idx][jump]
        cur[idx] = nxt
        for i, c in zip(idx, nxt):
            paths[i].append(int(c))
        active[idx] = nxt != b[idx]
    if active.any():
        raise ValueError(
            f"grid_path: {int(active.sum())} pair(s) did not converge within "
            f"{max_steps} steps (seam-spanning pair, or a/b resolutions differ)"
        )
    return [np.array(p, dtype=np.uint64) for p in paths]


def cell_area_m2(h: np.ndarray) -> np.ndarray:
    """(N,) cells -> spherical areas in m^2: the cell boundary is fanned
    into 6 spherical triangles from the cell center and each triangle's
    excess comes from L'Huilier's formula — exact on the sphere the grid
    lives on, fully vectorized (no per-cell loops).
    """
    from . import geom as _geom

    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    verts = cell_boundary(h)  # (n, 6, 2) lat/lng degrees
    clat, clng = cell_center(h)
    return _geom.spherical_fan_area_m2(clat, clng, verts[:, :, 0], verts[:, :, 1])
