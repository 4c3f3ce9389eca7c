"""JVM-side (whole-stage-codegen) H3 encode for face-interior regions.

The general encode is an Arrow pandas UDF over the NumPy kernel
(functions/h3_fns.py), which handles the icosahedron seams; every bbox
that spans a face seam runs it (operators/spatial.assign_h3). But for a
FACE-INTERIOR bbox (the engine's active region, and the natural shape
of a per-city job like the reference's, make_dataset.py:96-99) the
kernel reduces to

    gnomonic projection onto ONE face -> hex rounding -> aperture-7
    digit chain -> bit packing

every step closed-form float64/int64 arithmetic. This module emits that
arithmetic as Catalyst expressions (pyspark.sql built-ins only), so the
hot path runs inside whole-stage codegen with NO Python workers. The
Arrow-UDF flagship pays a JVM task thread + a Python worker per task —
~64 runnable threads on this 32-core host, measured 0.44 scaling
efficiency local[8]->local[32]; the JVM expression removes the Python
side entirely, which is what the north_rule's >=0.8 two-cluster-size
scaling criterion needs.

Structure note (round 3): the whole chain is ONE ``selectExpr`` whose
intermediates are LATERAL COLUMN ALIASES; the analyzer rewrites them
into nested Projects where every multiply-referenced step stays an
attribute (inlining 9 chained axial-rounds into one expression would
multiply subtree copies ~8x per level — ~8^9 nodes, measured driver
OOM in round 1). Per-level alias ranks keep the plan linear in res;
Catalyst's CollapseProject keeps multi-referenced non-cheap aliases as
separate projects, so no re-explosion happens at optimization time.
Two sizing constraints, both learned the hard way, are encoded in
``_emit_h3_chain``: the analyzer's fixed-point iteration cap (one
lateral rank resolved per pass) and the fused-stage JIT bytecode
budget (see the OPERATOR-COUNT BUDGET comment).

Exactness: the expressions replicate the NumPy kernel's float64
operation ORDER (same association, same literals), so results are
bit-identical to ``h3core.encode`` wherever encode's face-interior fast
path applies; ``jvm_encode_support`` validates that precondition on a
dense grid before the expression is used, and tests/test_jvm_encode.py
asserts 0 mismatches against the Arrow kernel on the real input
distribution (600k rows across res 8/9/10). The one FP caveat is trig:
JVM Math.cos/sin and libm both claim <=1 ulp but differ, leaving xr/yr
1-2 ulp apart (measured). That flips a cell only inside an
O(ulp)-width band (~1e-12 cube units ~ 4e-16 deg at res 9) around the
three-cell corner-tie locus where the axial tie-fix comparison
(dq >= dy) sits exactly at equality — and the flip is always to one of
the corner's OTHER cells, never a teleport. tests/test_jvm_encode.py
pins both properties on an adversarial vertex-hugging fixture.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame

from ..hexlib import hexmath as hm
from ..hexlib import icosa as ic

_SQRT3 = float(np.sqrt(3.0))


# ------------------------------------------------------------- validation

# (bbox, res) -> jvm_encode_support's result: a pure function of its
# arguments that holds no Spark object, so it is per process, not per
# session (plans.session.session_cached)
_SUPPORT_MEMO: dict[tuple, tuple[int, dict[int, int]]] = {}

# side of the validation grid jvm_encode_support samples the bbox on
_N_GRID = 400


def jvm_encode_support(
    bbox: tuple[float, float, float, float], res: int
) -> tuple[int, dict[int, int]]:
    """Validate that every point of ``bbox`` takes encode()'s face-interior
    fast path on a single face, i.e. the JVM expression is exact there.

    Checks on a dense (_N_GRID x _N_GRID) grid:
      * one nearest face for the whole bbox (float32 argmax, matching
        h3core.encode);
      * every chain lands in the res-0 anchor window with a known base
        cell;
      * every such base cell is HOMED on that face (encode's `same`
        branch — no foreign re-chain, no seam scan).

    Returns (face, {anchor_key: base_cell}); raises ValueError if any
    check fails (callers fall back to the Arrow-UDF kernel).
    """
    key = (tuple(bbox), res)
    if key in _SUPPORT_MEMO:
        return _SUPPORT_MEMO[key]
    lat0, lat1, lng0, lng1 = bbox
    glat, glng = np.meshgrid(
        np.linspace(lat0, lat1, _N_GRID), np.linspace(lng0, lng1, _N_GRID), indexing="ij"
    )
    lat, lng = glat.ravel(), glng.ravel()
    xyz = ic.geo_to_xyz(lat, lng)
    face = np.argmax(xyz.astype(np.float32) @ ic.FACE_CENTER.astype(np.float32).T, axis=1)
    faces = np.unique(face)
    if len(faces) != 1:
        raise ValueError(f"bbox spans faces {faces.tolist()} — JVM encode needs one face")
    f = int(faces[0])
    xh, yh = ic.project(np.full(len(lat), f), xyz)
    xr, yr = hm.res0_to_res_xy(xh, yh, res)
    a, b = hm.hex2d_to_axial(xr, yr)
    a0, b0, _ = hm.chain_up_digits_axial(a, b, res)
    if not (np.all(np.abs(a0) <= 2) and np.all(np.abs(b0) <= 2)):
        raise ValueError("bbox chain leaves the res-0 anchor window")
    keys = (a0 + 2) * 5 + (b0 + 2)
    bc_map: dict[int, int] = {}
    for k in np.unique(keys):
        bc = int(ic.ANCHOR_KEY_BC[f, int(k)])
        if bc < 0:
            raise ValueError("bbox touches a res-0 slot with no base cell")
        if int(ic.HOME_FACE[bc]) != f:
            raise ValueError(
                f"base cell {bc} homed on face {int(ic.HOME_FACE[bc])} != {f} "
                "(seam region — JVM fast path not exact)"
            )
        bc_map[int(k)] = bc
    _SUPPORT_MEMO[key] = (f, bc_map)
    return f, bc_map


def supports_bbox(bbox: tuple[float, float, float, float], res: int) -> bool:
    """True if the JVM fast path is exact for (bbox, res)."""
    try:
        jvm_encode_support(bbox, res)
        return True
    except ValueError:
        return False


# ------------------------------------------------------------- expression

# --- integer coset form of the aperture-7 digit chain.
#
# A res-r lattice point c relates to its parent p as c = M p + d, where
# M is the (det-7) down_b/down_a matrix and d one of the 7 axial digit
# offsets. The offsets are the 7 distinct cosets of the M-lattice, so d
# is identified by a LINEAR residue: alpha.(M z) == 0 (mod 7) for all z
# with alpha = (1,-3) for M_b (odd levels) and (1,2) for M_a (even), so
#
#   odd:  digit = LUT_b[(a - 3b) mod 7] ;  even: digit = LUT_a[(a + 2b) mod 7]
#
# and the parent is then an EXACT integer division by 7 — no float
# rounding, no tie-fix CASE. hexmath.chain_up_digits_axial's float chain
# necessarily finds the same (p, d): if its rounded parent differed from
# the coset parent, c - M p would fall outside the 7 offset cosets and
# the digit lookup would be invalid (its round-trip property tests prove
# it never is). _coset_luts() additionally asserts the equivalence on
# every residue at build time.
_AX_OFF = [(int(v[0]), int(v[1])) for v in hm._AXIAL_OF_DIGIT]  # digit -> (da, db)


def _coset_luts() -> tuple[list[int], list[int]]:
    lut_b = [-1] * 7
    lut_a = [-1] * 7
    for d, (da, db) in enumerate(_AX_OFF):
        lut_b[(da - 3 * db) % 7] = d
        lut_a[(da + 2 * db) % 7] = d
    assert sorted(lut_b) == list(range(7)) and sorted(lut_a) == list(range(7)), (
        "digit offsets are not a full residue system — coset chain invalid"
    )
    return lut_b, lut_a


_LUT_B, _LUT_A = _coset_luts()


def _dlit(v: float) -> str:
    """Exact double literal as SQL text. ``repr`` is the shortest
    round-trip form (float(repr(x)) == x) and Java's parseDouble is
    correctly rounded, so the cast reproduces the identical bits; the
    cast of a literal is constant-folded, so no runtime cost."""
    return f"CAST('{v!r}' AS DOUBLE)"


def attach_h3_jvm(
    df: DataFrame,
    res: int,
    bbox: tuple[float, float, float, float],
    lat: Column | str | None = None,
    lng: Column | str | None = None,
    out: str = "h3",
) -> DataFrame:
    """Append ``out`` = full H3 cell id (LongType) computed entirely
    JVM-side from degree columns ``lat``/``lng``. ``bbox`` must pass
    :func:`jvm_encode_support` (raises ValueError otherwise; callers fall
    back to the Arrow kernel). Column ``lat``/``lng`` arguments are
    projected to attributes first (one cheap extra select); None means
    the default columns, str arguments are SQL fragments used verbatim.

    Reference semantics: h3.geo_to_h3 (kraina-ai/hex2vec
    src/data/make_dataset.py:96-99) — here as ~200 codegen'd scalar ops.

    Emission strategy (round 3): the whole chain is ONE ``selectExpr``
    whose intermediate steps are LATERAL COLUMN ALIASES. The analyzer's
    lateral-alias rule rewrites them into the same nested-Project
    structure the round-2 code built by hand with ~20 chained
    ``select`` calls — every multiply-referenced step stays an
    attribute, so no subtree duplication — but plan construction is one
    py4j round-trip + one analysis pass instead of ~5,800 Column-op
    round-trips + 21 eager analyses (measured 1.7-2.5 s per query,
    BENCH_r02 hex_features/context_pairs regression; now ~0.2 s).
    """
    face, bc_map = jvm_encode_support(bbox, res)
    base_cols = list(df.columns)
    # temps are generated under the reserved __h3e_ prefix; guard the
    # whole prefix (round-2 review: a colliding input column would
    # otherwise surface later as an opaque ambiguous-reference error)
    for t in base_cols:
        if t.startswith("__h3e_"):
            raise ValueError(
                f"column {t} collides with the encode temps (reserved prefix __h3e_)"
            )
    if lat is None:
        lat = "`lat`"
    if lng is None:
        lng = "`lng`"
    if isinstance(lat, str) and isinstance(lng, str):
        lat_sql, lng_sql = lat, lng
        cur = df
    else:
        cur = df.select("*", lat.alias("__h3e_lat"), lng.alias("__h3e_lng"))
        lat_sql, lng_sql = "`__h3e_lat`", "`__h3e_lng`"

    ex: list[str] = []

    def step(name: str, sql: str) -> str:
        ex.append(f"({sql}) AS `{name}`")
        return f"`{name}`"

    # rank 0: the unit-sphere x/y/z (icosa.geo_to_xyz op order) as
    # ATTRIBUTES, so no later rank re-derives the trig
    d2r = float(np.pi / 180.0)  # np.radians(x) == x * (pi/180) (verified)
    latr = f"(({lat_sql}) * {_dlit(d2r)})"
    lngr = f"(({lng_sql}) * {_dlit(d2r)})"
    xyz = (
        step("__h3e_X", f"COS({latr}) * COS({lngr})"),
        step("__h3e_Y", f"COS({latr}) * SIN({lngr})"),
        step("__h3e_Z", f"SIN({latr})"),
    )
    hh = _emit_h3_chain(step, res, xyz, face, bc_map)
    # PUSHDOWN FENCE on the OUTPUT alias: the spark_partition_id()
    # guard (always true; the kernel never yields null) makes this alias
    # NON-DETERMINISTIC, so PushPredicateThroughNonJoin cannot move any
    # predicate above it (a join's IsNotNull, a user filter on h3) into
    # the chain below. Without the fence the rule SUBSTITUTES each
    # level's alias trees into the predicate — ~3x growth per level, so
    # the optimizer hangs/OOMs at res 8-9 (observed live: trimAliases
    # spinning, then Java heap exhaustion). Notes from the debugging:
    #   * the fence must sit at the TOP — fencing a lower level still
    #     lets the predicate explode through the levels above it;
    #   * rand() does NOT work as the guard: Spark 4's OptimizeRand
    #     folds `rand() >= -1` to TRUE and the fence dissolves;
    #   * explode(array(h)) does NOT work either: InferFiltersFromGenerate
    #     plants a `size(_t) > 0` filter BELOW the Generate, right on
    #     top of the chain — same explosion.
    # Filters above still evaluate (same rows, linear cost) — they just
    # stay above the chain; pipelines should filter source columns
    # BEFORE assign_h3, as the engine's own plans do. coalesce makes the
    # key non-nullable, so joins don't even materialize an IsNotNull.
    fence = (f"COALESCE(CASE WHEN SPARK_PARTITION_ID() >= -1 THEN {hh} END, "
             f"CAST(-1 AS BIGINT))")
    quoted_base = [f"`{c}`" for c in base_cols]
    full = cur.selectExpr(*quoted_base, *ex, f"({fence}) AS `{out}`")
    return full.select(*base_cols, out)


def _emit_h3_chain(
    step,
    res: int,
    xyz: tuple[str, str, str],
    face: int,
    bc_map: dict[int, int],
) -> str:
    """Emit the encode arithmetic as lateral-alias SQL via ``step``;
    returns the reference to the packed (unfenced) cell-id alias.

    ``xyz`` are the rank-0 unit-sphere coordinate attributes;
    ``face`` and ``bc_map`` are :func:`jvm_encode_support`'s validated
    face and anchor-key -> base-cell map, emitted as literals.
    """

    def sub(sql: str) -> str:
        # inline subexpression (textual duplication is fine: codegen's
        # subexpression elimination dedupes at runtime, and keeping
        # these OUT of the alias list keeps the fused stage's operator
        # count low — see the JIT note below)
        return f"({sql})"

    cx, cy, cz = (_dlit(float(v)) for v in ic.FACE_CENTER[face])
    t1x, t1y, t1z = (_dlit(float(v)) for v in ic.FACE_T1[face])
    t2x, t2y, t2z = (_dlit(float(v)) for v in ic.FACE_T2[face])
    # OPERATOR-COUNT BUDGET: every lateral-alias rank below becomes one
    # Project operator in the SAME whole-stage-codegen stage as the
    # downstream join/explode/aggregate. Past ~25 operators the stage's
    # generated aggregate method crosses HotSpot's 8,000-byte JIT limit
    # and the WHOLE stage runs interpreted (observed: 37 ranks -> a
    # 9,980-byte method, "too long to be JIT compiled", flagship 3.4 s
    # -> 9.6 s). So the prologue is four dense ranks — xyz, xr/yr,
    # float axial q/r, rounded a/b — whose inline subtrees bottom out at
    # the previous rank's attributes, and only the aperture-7 chain gets
    # per-level ranks. The xyz and q/r ranks are there for PLAN size:
    # inlined, each reference re-copies the whole trig (resp. xr/yr)
    # subtree into every consumer, which nearly doubled the optimized
    # plan and its planning time; as attributes they cost one Project
    # each. tests/test_plans.py pins both the Project budget and the
    # largest generated method of the fused flagship stage.
    x3, y3, z3 = xyz

    # icosa.project: d = xyz . c ; p = xyz / d ; rel = p - c ;
    # x = (rel . t1) / RES0_U (einsum sums k=0,1,2 left-to-right)
    d = sub(f"{x3} * {cx} + {y3} * {cy} + {z3} * {cz}")
    px = sub(f"{x3} / {d} - {cx}")
    py = sub(f"{y3} / {d} - {cy}")
    pz = sub(f"{z3} / {d} - {cz}")
    u0 = float(ic.RES0_U)
    xh = sub(f"({px} * {t1x} + {py} * {t1y} + {pz} * {t1z}) / {_dlit(u0)}")
    yh = sub(f"({px} * {t2x} + {py} * {t2y} + {pz} * {t2z}) / {_dlit(u0)}")

    # hexmath.res0_to_res_xy — rank 1: xr/yr become ATTRIBUTES here, so
    # the axial round below never re-evaluates the trig tree
    s = float(hm.SQRT7 ** res)
    rot = hm.class_rotation(res)
    if rot == 0.0:
        xr = step("__h3e_xr", f"{xh} * {_dlit(s)}")
        yr = step("__h3e_yr", f"{yh} * {_dlit(s)}")
    else:
        c_, sn = float(np.cos(rot)), float(np.sin(rot))
        xr = step("__h3e_xr", f"{_dlit(s)} * ({_dlit(c_)} * {xh} - {_dlit(sn)} * {yh})")
        yr = step("__h3e_yr", f"{_dlit(s)} * ({_dlit(sn)} * {xh} + {_dlit(c_)} * {yh})")

    # hexmath.hex2d_to_axial + axial_round (same op order: q=fa-fb,
    # r=fb, y=-q-r, rint, tie-fix; RINT == Math.rint == np.rint,
    # half-to-even) — rank 2: the float axial q/r as attributes; rank
    # 3: one dense pair of rounded aliases whose every inline subtree
    # bottoms out at q/r.
    sq3 = _dlit(_SQRT3)
    fa = sub(f"{xr} + {yr} / {sq3}")
    fb = sub(f"({_dlit(2.0)} * {yr}) / {sq3}")
    q = step("__h3e_fq", f"{fa} - {fb}")
    rv = step("__h3e_fr", fb)
    yv = sub(f"(- {q}) - {rv}")
    rq = sub(f"RINT({q})")
    ry = sub(f"RINT({yv})")
    rr = sub(f"RINT({rv})")
    dq = sub(f"ABS({rq} - {q})")
    dy = sub(f"ABS({ry} - {yv})")
    dr = sub(f"ABS({rr} - {rv})")
    fixq = sub(f"({dq} >= {dy}) AND ({dq} >= {dr})")
    fixy = sub(f"(NOT {fixq}) AND ({dy} >= {dr})")
    rq2 = sub(f"CASE WHEN {fixq} THEN -({ry} + {rr}) ELSE {rq} END")
    rr2 = sub(f"CASE WHEN NOT ({fixq} OR {fixy}) THEN -({rq2} + {ry}) ELSE {rr} END")
    a_cur = step(f"__h3e_a{res}", f"{rq2} + {rr2}")
    b_cur = step(f"__h3e_b{res}", f"{rr2}")

    # hexmath.chain_up_digits_axial in COSET form (see block comment at
    # _coset_luts): digit from a linear residue mod 7, parent via EXACT
    # integer division — integer-valued doubles throughout, so every op
    # here is exact float64 arithmetic (x/7.0 of an exact multiple of 7
    # is exact by correctly-rounded division) and the result equals the
    # float tie-fix chain by the coset-uniqueness argument. Digits land
    # straight in their 3-bit slots.
    dig_names: list[str] = []
    for r in range(res, 0, -1):
        if r % 2 == 1:  # inverse of down_b: M_b^-1 = 1/7 [[2,1],[-1,3]]
            resid = f"CAST(PMOD({a_cur} - {_dlit(3.0)} * {b_cur}, {_dlit(7.0)}) AS INT)"
            lut = _LUT_B
        else:  # inverse of down_a: M_a^-1 = 1/7 [[3,-1],[1,2]]
            resid = f"CAST(PMOD({a_cur} + {_dlit(2.0)} * {b_cur}, {_dlit(7.0)}) AS INT)"
            lut = _LUT_A
        dig_of = "ARRAY(" + ", ".join(str(dv) for dv in lut) + ")"
        da_of = "ARRAY(" + ", ".join(_dlit(float(_AX_OFF[dv][0])) for dv in lut) + ")"
        db_of = "ARRAY(" + ", ".join(_dlit(float(_AX_OFF[dv][1])) for dv in lut) + ")"
        # lateral-alias resolution peels ONE dependency rank per analyzer
        # fixed-point iteration; the Resolution batch caps at
        # spark.sql.analyzer.maxIterations (default 100). Keep this loop
        # at TWO ranks per level (rs, then {d, a, b}) by inlining the
        # once-referenced ra/rb parent-lattice coordinates — at res 10
        # the original 4-rank version blew past the cap.
        rs = step(f"__h3e_rs{r}", f"({resid}) + 1")
        ra = f"({a_cur} - ELEMENT_AT({da_of}, {rs}))"
        rb = f"({b_cur} - ELEMENT_AT({db_of}, {rs}))"
        if r % 2 == 1:
            pa = f"({_dlit(2.0)} * {ra} + {rb}) / {_dlit(7.0)}"
            pb = f"((- {ra}) + {_dlit(3.0)} * {rb}) / {_dlit(7.0)}"
        else:
            pa = f"({_dlit(3.0)} * {ra} - {rb}) / {_dlit(7.0)}"
            pb = f"({ra} + {_dlit(2.0)} * {rb}) / {_dlit(7.0)}"
        dig_names.append(step(
            f"__h3e_d{r}",
            f"SHIFTLEFT(CAST(ELEMENT_AT({dig_of}, {rs}) AS BIGINT), {3 * (15 - r)})",
        ))
        a_cur = step(f"__h3e_a{r - 1}", pa)
        b_cur = step(f"__h3e_b{r - 1}", pb)

    # base cell from the res-0 anchor key: dense 25-slot lookup with
    # the RUNTIME GUARD (round-3 advisor fix). jvm_encode_support
    # validates the bbox on a sampled grid, so a sub-grid-spacing sliver
    # could in principle land in an UNVALIDATED slot at runtime; the old
    # code packed shiftleft(-1, 45) garbage silently. Now an in-window
    # but unmapped slot (-1) raises via RAISE_ERROR, and so does an
    # out-of-window anchor key (the range gate below) — corrupt ids can
    # never escape.
    ak = step("__h3e_ak",
              f"CAST(({a_cur} + {_dlit(2.0)}) * {_dlit(5.0)} + {b_cur} + {_dlit(2.0)} AS INT)")
    dense = [-1] * 25
    for k, v in bc_map.items():
        dense[k] = v
    bc_arr = "ARRAY(" + ", ".join(f"CAST({v} AS BIGINT)" for v in dense) + ")"
    err = ("h3 jvm encode: point maps to a res-0 anchor slot outside the "
           "validated bbox support (sampled-grid gap) - widen the bbox or "
           "use the Arrow kernel path")
    # BOUND-CHECK before ELEMENT_AT (round-4 advisor fix): with ANSI off,
    # element_at on a NEGATIVE index reads from the array END, so an
    # anchor key in [-25,-2] would silently resolve to a slot on the
    # opposite window edge; if that slot were mapped (>=0) the guard
    # would pass and a WRONG base cell escape. The explicit range gate
    # routes every out-of-window key to -1 so the RAISE_ERROR branch
    # fires.
    raw = (f"(CASE WHEN ({ak}) >= 0 AND ({ak}) <= 24 "
           f"THEN ELEMENT_AT({bc_arr}, ({ak}) + 1) "
           f"ELSE CAST(-1 AS BIGINT) END)")
    bc = step("__h3e_bc", f"CASE WHEN {raw} >= 0 THEN {raw} "
                          f"ELSE CAST(RAISE_ERROR('{err}') AS BIGINT) END")

    # h3core.pack: mode 1, res bits, 7-fill for unused digit slots
    n_fill = 15 - res
    fill = (1 << (3 * n_fill)) - 1 if n_fill else 0
    const = (1 << 59) | (res << 52) | fill
    h_sql = f"CAST({const} AS BIGINT) | SHIFTLEFT({bc}, 45)"
    for dn in dig_names:
        h_sql = f"{h_sql} | {dn}"
    return step("__h3e_h", h_sql)


def _phash_latlng_sql(bbox: tuple[float, float, float, float]) -> tuple[str, str]:
    """The documented geotag convention (functions/h3_fns.geotag_np,
    FIXTURES.md §1) as exact integer/double SQL fragments."""
    lat0, lat1, lng0, lng1 = bbox
    two32 = _dlit(float(2 ** 32))
    u_hi = "CAST(SHIFTRIGHTUNSIGNED(`phash`, 32) AS DOUBLE)"
    u_lo = f"CAST(`phash` & {0xFFFFFFFF} AS DOUBLE)"
    lat = f"{_dlit(float(lat0))} + ({u_hi} / {two32}) * {_dlit(float(lat1 - lat0))}"
    lng = f"{_dlit(float(lng0))} + ({u_lo} / {two32}) * {_dlit(float(lng1 - lng0))}"
    return lat, lng


def attach_h3_from_phash_jvm(
    df: DataFrame, res: int, bbox: tuple[float, float, float, float], out: str = "h3"
) -> DataFrame:
    """phash -> H3 cell id, fully JVM-side, exact for face-interior
    bboxes (see :func:`attach_h3_jvm`)."""
    lat, lng = _phash_latlng_sql(bbox)
    return attach_h3_jvm(df, res, bbox, lat=lat, lng=lng, out=out)
