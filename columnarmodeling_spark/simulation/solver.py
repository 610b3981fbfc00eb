"""Lattice-spring time loop as an iterative DataFrame pipeline (E3).

The reference's solver (closed-source ``4D-LSM 8.230.exe``) advances
particle state per step ``dT`` over a fixed spring-bond network and
appends output every ``nOutLoops`` steps
(``/root/reference/UniaxialCompressionTest/MLS00con.dat:4-7``, field
docs ``SysFile.ini:55-63``; bonds ``MLSBond.dat``; snapshots
``Output/MLSOut*.bin``). The engine re-expresses one explicit-integration
step as pure relational algebra:

1. edge join: state ⋈ bonds (both directions) → per-bond spring force
   ``k·(dist − rest_length)`` along the bond axis;
2. force aggregation per particle (hash agg — partial+final);
3. integration: ``v += (F/m)·dT`` , ``x += v·dT`` (map-side expressions);
4. every *n_out* steps, append the state to Parquet partitioned by
   ``step`` (S9/S10: the snapshot store; filename-embedded step becomes
   partition pruning on read-back).

The driver loop carries only the DataFrame handle; state stays
distributed and lineage is truncated per step (``localCheckpoint``, the
same discipline as Lloyd/connected-components). At 100 TB the state
shuffle is keyed by particle id and the bond join by src id — both
pre-partitionable (bucketing) so steady-state steps reuse partitioning.
OpenMP threads (``CORENUM.txt``) map to executor cores.

Every solver here is dimension-generic over the spatial axes of the
input state: ``x, y`` (the plane-strain tier) or ``x, y, z`` (the
reference's native 3D — ``BALL3D_PSLICE.dat`` particles, 3-axis
``MLSLD00.dat`` range boxes). The dimension D is read from the schema
(``"z" in state.columns``); velocities are ``v<axis>``, gravity is a
D-vector, block keys are ``b<axis>`` and the halo replicates each block
into its 3^D neighbours. A 3D state confined to ``z = vz = 0`` gives
bit-for-bit the 2D results (pinned in tests/test_solver3d.py).
"""

from __future__ import annotations

import functools
import itertools
import math
import operator
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --- pluggable constitutive bond model (the UDM.dll analog) ---------------
#
# The reference's one extension point is ``UDM.dll`` ("User Defined
# Model", ``UniaxialCompressionTest/UDM.dll``, loaded beside the exe;
# SURVEY §2.9): a user-supplied constitutive law replaces the built-in
# spring update without touching the solver. The engine analog is a
# vectorized per-bond callable plugged into the blocked kernel:
#
#   law(dist, rest, k, strength, ustate, alive)
#       -> (mag, just_broke, new_ustate)
#
# All inputs are aligned NumPy float64/bool arrays, one element per
# local bond replica; the law must be PURE and element-wise (the same
# bond is evaluated in up to 3^D halo replicas, which stay bit-identical
# only if the law depends on nothing but its arguments):
#
#   dist     current endpoint distance
#   rest     rest length
#   k        per-bond stiffness
#   strength per-bond break threshold (strain units; breaking solver
#            only — the non-breaking solver passes None)
#   ustate   persistent per-bond scalar state (damage memory etc.),
#            carried across sub-steps AND shuffle rounds; 0.0 initially
#   alive    live mask (False once broken)
#
#   mag        force scalar: force vector on src = mag * (dst - src);
#              MUST already be 0 for dead (not alive or just-broken)
#              bonds and for dist == 0
#   just_broke bonds breaking THIS sub-step (subset of alive), or None
#              if the law never breaks bonds
#   new_ustate updated state array (may be ustate unchanged)
#
# ``linear_spring_law`` / ``linear_spring_breaking_law`` are the
# defaults and reproduce the pre-pluggable hard-coded kernels
# bit-identically (regression-pinned in tests/test_solver.py);
# ``bilinear_softening_law`` is the shipped example UDM — a
# damage-retaining bilinear cohesive law (q192).


def _checked_positions(sorted_ids, wanted):
    """``searchsorted`` positions of *wanted* in *sorted_ids*, failing
    LOUDLY when a value is absent. Plain ``searchsorted`` silently maps
    a missing bond endpoint to the next-larger particle's row (wrong
    physics) or indexes out of range with an opaque IndexError; the old
    per-bond dict lookup raised KeyError. The eb membership join
    guarantees presence, so this is a halo-invariant guard, not a code
    path — two vectorized compares per bond per round (r15 ADVICE). An
    empty *sorted_ids* holds none of *wanted*."""
    import numpy as np

    pos = np.searchsorted(sorted_ids, wanted)
    n = len(sorted_ids)
    missing = pos >= n
    if n:
        missing |= sorted_ids[np.minimum(pos, n - 1)] != wanted
    if missing.any():
        raise KeyError(
            "bond endpoint id(s) missing from block particle set "
            f"(halo invariant violated): {wanted[missing][:5].tolist()}"
        )
    return pos


def linear_spring_law(dist, rest, k, strength, ustate, alive):
    """Default Hookean law: f = k·(dist − rest) along the bond; never
    breaks. Bit-identical to the original blocked_round kernel."""
    import numpy as np

    with np.errstate(invalid="ignore", divide="ignore"):
        mag = np.where(alive & (dist > 0), k * (dist - rest) / dist, 0.0)
    return mag, None, ustate


def linear_spring_breaking_law(dist, rest, k, strength, ustate, alive):
    """Default breaking law: Hookean force; a live bond stretched past
    ``strain > strength`` breaks now and exerts no force from this
    sub-step on. Bit-identical to the original breaking kernel."""
    import numpy as np

    just_broke = alive & (dist - rest > strength * rest)
    live = alive & ~just_broke
    with np.errstate(invalid="ignore", divide="ignore"):
        mag = np.where(live & (dist > 0), k * (dist - rest) / dist, 0.0)
    return mag, just_broke, ustate


def bilinear_softening_law(dist, rest, k, strength, ustate, alive):
    """Example UDM: bilinear cohesive softening with damage memory.

    Elastic up to the yield strain ``ε_y = strength``; past yield the
    tensile capacity decays linearly to zero at the ultimate strain
    ``ε_u = 2·strength`` (softening modulus = −k, the classic bilinear
    cohesive-zone shape); at ``ε ≥ ε_u`` the bond breaks. Damage is
    IRREVERSIBLE: ``ustate`` carries the maximum historical strain, and
    a bond that has softened to capacity ``f_cap(ε_max)`` unloads along
    the damaged secant ``f = f_cap(ε_max)/ε_max · ε`` instead of
    re-stiffening (a state-free bilinear would heal on unloading —
    damage memory is exactly what the persistent ``ustate`` column
    exists for). Compression stays linear-elastic (no crush model),
    matching the tension-cut reference behavior.
    """
    import numpy as np

    with np.errstate(invalid="ignore", divide="ignore"):
        strain = np.where(rest > 0, (dist - rest) / rest, 0.0)
    eps_y = strength
    eps_u = 2.0 * strength
    new_max = np.maximum(ustate, strain)
    just_broke = alive & (new_max >= eps_u)
    live = alive & ~just_broke
    # capacity at the historical max strain (per unit strain -> force
    # via k·rest); secant stiffness ratio in [0, 1]
    cap = np.where(
        new_max <= eps_y,
        1.0,
        np.where(
            new_max < eps_u,
            (eps_u - new_max) / (eps_u - eps_y) * eps_y
            / np.maximum(new_max, 1e-300),
            0.0,
        ),
    )
    with np.errstate(invalid="ignore", divide="ignore"):
        tension = strain > 0
        eff = np.where(tension, cap, 1.0)  # compression: undamaged
        mag = np.where(
            live & (dist > 0), eff * k * (dist - rest) / dist, 0.0
        )
    return mag, just_broke, np.where(alive, new_max, ustate)


@dataclass(frozen=True)
class BoundaryCondition:
    """One boundary-condition block of the reference's ``MLSLD00.dat``
    (schema ``SysFile.ini:72-186``): a coordinate range box, a BC kind,
    a value vector, and an optional load curve (the ``Load_Data``
    field — "Apply_the_loading_curve").

    The shipped uniaxial case has exactly two of these: a zero-velocity
    clamp on the bottom slab and a ``-20``-valued velocity BC on the
    top platen whose displacement ramps as ``-20·t`` (the E-series
    shape). *curve* is a tuple of ``(t, scale)`` control points; the
    applied value at solver time ``t`` is ``(vx, vy[, vz]) ×
    piecewise_linear(curve, t)``, clamped to the endpoint values
    outside the curve domain (same semantics as
    ``operators/load_curves.interpolate_curves``). ``curve=None``
    means a constant BC (scale 1), the pre-round-6 behavior.
    """

    x0: float = -math.inf
    x1: float = math.inf
    y0: float = -math.inf
    y1: float = math.inf
    # z range + z value: read only for a 3D state (one with a z
    # column); a 2D state ignores them, so 2D call sites leave them unset
    z0: float = -math.inf
    z1: float = math.inf
    # the reference's five SysFile.ini BC families (Displacement is
    # velocity-with-curve in the shipped cases — the uniaxial platen's
    # -20-valued ramp; the explicit kinds here are the other four):
    # 'velocity'      prescribes v in the range box
    # 'force'         adds a constant force
    # 'acceleration'  adds v += a·dt each sub-step
    # 'nonreflection' Lysmer-Kuhlemeyer viscous absorber: f -= c·v
    kind: str = "velocity"
    vx: float = 0.0
    vy: float = 0.0
    vz: float = 0.0
    c: float = 0.0  # nonreflection damper coefficient
    curve: tuple[tuple[float, float], ...] | None = None


def _curve_scale(curve, t: float) -> float:
    """Piecewise-linear curve evaluation, endpoint-clamped — shared by
    BC load curves and the centrifuge gravity ramp (Centrifuge.dat:
    spin-up to N g over a ramp time). ``curve=None`` → 1.0."""
    if not curve:
        return 1.0
    import numpy as np

    return float(
        np.interp(t, [p[0] for p in curve], [p[1] for p in curve])
    )


def weibull_strengths(
    bonds: DataFrame,
    m: float,
    sigma0: float,
    salt: str = "wb0",
) -> DataFrame:
    """Attach a per-bond Weibull strength column (the reference's
    ``Webull.dat:1`` — per-bond strength heterogeneity, shape *m* and
    scale *sigma0*; homogeneous strength changes fracture localization
    qualitatively, so the breaking solver consumes this column in place
    of its scalar strain limit).

    The draw is deterministic and engine-portable: ``u`` is the
    md5-prefix uniform of ``(src, dst, salt)`` (same 60-bit integer
    arithmetic as the minhash tier, ``functions/text.hex_hash`` —
    identical in DuckDB, stable across task retries), pushed through
    the Weibull inverse CDF ``sigma0 · (−ln(1−u))^(1/m)``. The result
    is rounded to 4 decimals so sub-ulp libm differences between
    engines cannot flip a break decision.
    """
    from columnarmodeling_spark.functions.text import MERSENNE_P, hex_hash

    u_int = (
        hex_hash(F.concat_ws("#", F.col("src"), F.col("dst"), F.lit(salt)))
        % MERSENNE_P
    )
    u = u_int.cast("double") / F.lit(float(MERSENNE_P))
    strength = F.round(
        F.lit(float(sigma0))
        * F.pow(-F.log(F.lit(1.0) - u), F.lit(1.0 / float(m))),
        4,
    )
    return bonds.withColumn("strength", strength)


def bond_stiffness_from_materials(
    bonds: DataFrame,
    particle_materials: DataFrame,
    materials: DataFrame,
) -> DataFrame:
    """Attach a per-bond ``k`` stiffness column from material properties
    (the reference's ``MLSMat00.dat`` Material_List — ``SysFile.ini``
    Block_Material fields ``E`` elastic modulus per material block; a
    particle's material id selects its block).

    A bond is two half-springs in series, so the bond stiffness is the
    harmonic mean of the endpoint moduli: ``k = 2·Ea·Eb / (Ea + Eb)``,
    rounded to 6 decimals so a DuckDB oracle replays the identical
    arithmetic. *particle_materials* is ``(id, mat)``;
    *materials* is ``(mat, e_mod)`` — a handful of rows, broadcast into
    the per-particle lookup; the endpoint joins are ordinary equi-joins
    on the bond keys (per-particle sized — Catalyst/AQE picks broadcast
    only when the particle table is actually small).
    """
    pm = particle_materials.join(F.broadcast(materials), "mat").select(
        "id", "e_mod"
    )
    ea = pm.select(F.col("id").alias("src"), F.col("e_mod").alias("ea"))
    eb_ = pm.select(F.col("id").alias("dst"), F.col("e_mod").alias("eb"))
    return (
        bonds.join(ea, "src")
        .join(eb_, "dst")
        .withColumn(
            "k",
            F.round(
                2.0 * F.col("ea") * F.col("eb") / (F.col("ea") + F.col("eb")),
                6,
            ),
        )
        .drop("ea", "eb")
    )


# --- dimension-generic helpers -------------------------------------------

_LOG_COLS = ("src", "dst", "rest", "strength", "k", "break_step", "ustate")
_BOND_COLS = ("src", "dst", "rest", "strength", "k", "ustate")
_TYPES = {
    "kind": "int", "id": "long", "owned": "boolean",
    "src": "long", "dst": "long", "break_step": "long",
}


def _axes(state: DataFrame) -> tuple[str, ...]:
    """Spatial axes of *state*: ``x, y, z`` if it has a z column, else
    ``x, y``."""
    return ("x", "y", "z") if "z" in state.columns else ("x", "y")


def _state_cols(axes) -> list[str]:
    return ["id", *axes, *("v" + a for a in axes), "m"]


def _schema(cols) -> str:
    return ", ".join(f"{c} {_TYPES.get(c, 'double')}" for c in cols)


def _gravity(gravity, axes) -> tuple[float, ...]:
    """The gravity D-vector as floats; ``None`` = no gravity."""
    if gravity is None:
        return (0.0,) * len(axes)
    if len(gravity) != len(axes):
        raise ValueError(
            f"gravity {tuple(gravity)} has {len(gravity)} components; "
            f"the state has {len(axes)} axes {axes}"
        )
    return tuple(float(g) for g in gravity)


def _all(conds):
    return functools.reduce(operator.and_, conds)


def _apply_bcs(bcs, kinds, axes, pos, vel, f, t_now, dt):
    """Apply, in file order, every BC whose kind is in *kinds*: 'force'
    adds the (curve-scaled) value to *f*, 'nonreflection' subtracts
    c·v (the absorbing-boundary damper), 'acceleration' adds a·dt to
    the velocity and 'velocity' prescribes it. Range-box masks use the
    positions as passed (start-of-step) — bit-exact in every halo
    replica. Values per axis come from ``bc.v<axis>``."""
    for bc in bcs:
        if bc.kind not in kinds:
            continue
        msk = _all(
            (p >= getattr(bc, a + "0")) & (p <= getattr(bc, a + "1"))
            for a, p in zip(axes, pos)
        )
        s = _curve_scale(bc.curve, t_now)
        for j, a in enumerate(axes):
            val = getattr(bc, "v" + a) * s
            if bc.kind == "force":
                f[j][msk] += val
            elif bc.kind == "nonreflection":
                f[j][msk] -= bc.c * s * vel[j][msk]
            elif bc.kind == "acceleration":
                vel[j][msk] += val * dt
            else:
                vel[j][msk] = val


def _make_kernel(
    axes, bond_cols, breaking, burst, step0, k, dt, law, bcs, gravity,
    gravity_curve, damping,
):
    """The cogrouped NumPy kernel of one block: ``burst`` explicit-Euler
    sub-steps over the block's particle replicas and local bonds.

    Per-sub-step force order (mirrored exactly by the DuckDB oracles):
    spring forces from *law* (per-bond ``k`` column if present, else
    scalar *k*) → gravity ``g·m·scale(t)`` (MLS00con.dat Gx/Gy, spin-up
    curve) → force/nonreflection BCs → local damping
    ``f -= Dp·|f|·sign(v)`` per component (MLS00con.dat Dp) → integrate
    → acceleration/velocity BCs (prescription wins, matching the
    reference's block order) → advance positions. Gravity, damping and
    the BC masks are all per-particle-local, so the halo invariant is
    untouched; curve time is the global end-of-step time
    ``(step0 + i + 1)·dt``, identical in every replica.

    The elastic kernel (*breaking* false) ignores any break verdict,
    starts ``ustate`` at 0 each round and returns the particles with
    their ``owned`` flag. The breaking kernel records ``break_step``,
    drops broken bonds from the force sum, and also emits each local
    bond exactly once — by the replica that owns its ``src`` — as a
    ``kind = 1`` row next to the ``kind = 0`` particle rows."""
    import pandas as pd

    cols = _state_cols(axes)
    vaxes = ["v" + a for a in axes]
    out_cols = (
        ["kind", *cols, "owned", *_LOG_COLS] if breaking else [*cols, "owned"]
    )
    has_g = any(g != 0.0 for g in gravity)

    def kernel(parts: pd.DataFrame, local_bonds: pd.DataFrame):
        if parts.empty:
            return pd.DataFrame(columns=out_cols)
        import numpy as np

        def bond_col(c, dtype):
            if local_bonds.empty:
                return np.empty(0, dtype=dtype)
            return local_bonds[c].to_numpy(dtype=dtype)

        ids = parts["id"].to_numpy()
        pos = [parts[a].to_numpy(dtype=np.float64).copy() for a in axes]
        vel = [parts[v].to_numpy(dtype=np.float64).copy() for v in vaxes]
        m = parts["m"].to_numpy(dtype=np.float64)
        owned = parts["owned"].to_numpy()
        b = {c: bond_col(c, np.int64) for c in ("src", "dst")}
        b.update((c, bond_col(c, np.float64)) for c in bond_cols)
        # vectorized id -> row-index mapping (sorted ids + searchsorted):
        # same values as the old per-bond dict lookup, ~4x faster per
        # round (r15 microbench)
        order = np.argsort(ids, kind="stable")
        sorted_ids = ids[order]
        src = order[_checked_positions(sorted_ids, b["src"])]
        dst = order[_checked_positions(sorted_ids, b["dst"])]
        rest = b["rest"]
        if breaking:
            kk, strength, ustate = b["k"], b["strength"], b["ustate"].copy()
            break_step = np.full(len(src), -1, dtype=np.int64)
        else:
            kk, strength = b.get("k", k), None
            ustate = np.zeros(len(src), dtype=np.float64)
        alive = np.ones(len(src), dtype=bool)
        for s_i in range(burst):
            d = [p[dst] - p[src] for p in pos]
            dist = np.sqrt(functools.reduce(operator.add, (e * e for e in d)))
            # pluggable constitutive law (UDM analog): verdicts and
            # state updates depend only on bit-exact halo inputs, so
            # every replica of a bond stays in lockstep
            mag, just_broke, ustate = law(
                dist, rest, kk, strength, ustate, alive
            )
            if breaking:
                if just_broke is None:
                    just_broke = np.zeros(len(src), dtype=bool)
                break_step[just_broke] = step0 + s_i + 1
                alive &= ~just_broke
            f = []
            for e in d:
                fa = np.zeros_like(m)
                np.add.at(fa, src, mag * e)
                np.add.at(fa, dst, -mag * e)
                f.append(fa)
            t_now = (step0 + s_i + 1) * dt
            if has_g:
                g_s = _curve_scale(gravity_curve, t_now)
                for fa, g in zip(f, gravity):
                    fa += g * g_s * m
            if bcs:
                _apply_bcs(
                    bcs, ("force", "nonreflection"), axes, pos, vel, f,
                    t_now, dt,
                )
            if damping != 0.0:
                for fa, va in zip(f, vel):
                    fa -= damping * np.abs(fa) * np.sign(va)
            for fa, va in zip(f, vel):
                va += fa / m * dt
            if bcs:
                for kind in ("acceleration", "velocity"):
                    _apply_bcs(bcs, (kind,), axes, pos, vel, None, t_now, dt)
            for p, va in zip(pos, vel):
                p += va * dt
        parts_out = {
            "id": ids, **dict(zip(axes, pos)), **dict(zip(vaxes, vel)),
            "m": m, "owned": owned,
        }
        if not breaking:
            return pd.DataFrame(parts_out)
        p_out = pd.DataFrame(
            {
                "kind": 0, **parts_out, "src": -1, "dst": -1, "rest": 0.0,
                "strength": 0.0, "k": 0.0, "break_step": -1, "ustate": 0.0,
            }
        )
        # exactly-once bond emission: the replica owning `src` reports
        emit = owned[src]
        b_out = pd.DataFrame(
            {
                "kind": 1, "id": -1, **dict.fromkeys(cols[1:], 0.0),
                "owned": True,
                "src": b["src"][emit], "dst": b["dst"][emit],
                "rest": rest[emit], "strength": strength[emit],
                "k": kk[emit], "break_step": break_step[emit],
                "ustate": ustate[emit],
            }
        )
        return pd.concat([p_out, b_out], ignore_index=True)[out_cols]

    return kernel


def _halo_relations(state, bonds, bond_cols, block, halo, axes):
    """The two cogroup inputs of one halo-exchange round, keyed by the
    block columns ``b<axis>`` (returned as the third element):

    ``rep`` — every particle in its owner block (``owned``) plus a copy
    in each of the 3^D - 1 neighbour blocks whose expanded bounds
    (block ± *halo*) contain it;

    ``eb`` — the bonds whose BOTH ends live in the same block replica,
    derived directly from endpoint positions (r16, guide §2.3/§3): join
    the 1x state relation twice (src/dst positions), enumerate the 3^D
    candidate blocks around the src owner, and re-apply rep's EXACT
    membership predicate to both endpoints (owner match, or in-halo
    AND within ±1 of the endpoint's own owner — the explode bound).
    Identical (bond, block) set to a double join against the exploded
    rep, with 3^D-times smaller join inputs."""
    keys = ["b" + a for a in axes]
    offs = F.array(
        *[
            F.struct(*[F.lit(o).alias("d" + a) for o, a in zip(off, axes)])
            for off in itertools.product((-1, 0, 1), repeat=len(axes))
        ]
    )

    def in_halo(coords):
        return _all(
            cond
            for a, c in zip(axes, coords)
            for cond in (
                c >= F.col("b" + a) * block - halo,
                c < (F.col("b" + a) + 1) * block + halo,
            )
        )

    home = _all(F.col("__o.d" + a) == 0 for a in axes)
    rep = state
    for a in axes:
        rep = rep.withColumn("__b" + a, F.floor(F.col(a) / F.lit(block)))
    rep = rep.withColumn("__o", F.explode(offs))
    for a in axes:
        rep = rep.withColumn("b" + a, F.col("__b" + a) + F.col("__o.d" + a))
    rep = (
        rep.withColumn("owned", home)
        .filter(F.col("owned") | in_halo([F.col(a) for a in axes]))
        .select(*_state_cols(axes), *keys, "owned")
    )
    sp = state.select(
        F.col("id").alias("src"), *[F.col(a).alias("__s" + a) for a in axes]
    )
    dp = state.select(
        F.col("id").alias("dst"), *[F.col(a).alias("__d" + a) for a in axes]
    )
    sc = [F.col("__s" + a) for a in axes]
    dc = [F.col("__d" + a) for a in axes]
    dob = [F.floor(c / F.lit(block)) for c in dc]
    mem_s = home | in_halo(sc)
    mem_d = _all(o == F.col(key) for o, key in zip(dob, keys)) | _all(
        [in_halo(dc)]
        + [F.abs(F.col(key) - o) <= 1 for o, key in zip(dob, keys)]
    )
    eb = bonds.join(sp, "src").join(dp, "dst").withColumn(
        "__o", F.explode(offs)
    )
    for a, c in zip(axes, sc):
        eb = eb.withColumn(
            "b" + a, F.floor(c / F.lit(block)) + F.col("__o.d" + a)
        )
    eb = eb.filter(mem_s & mem_d).select("src", "dst", *bond_cols, *keys)
    return rep, eb, keys


# --- DataFrame reference solver (the tests' oracle) ----------------------


def spring_forces(state: DataFrame, bonds: DataFrame, k: float) -> DataFrame:
    """Per-particle net spring force from the bond edge list.

    *state*: ``id, x, y[, z], vx, vy[, vz], m``; *bonds*: ``src, dst,
    rest`` (one row per undirected bond; an optional ``k`` column gives
    per-bond stiffness — MLSMat00.dat material heterogeneity — and
    overrides the scalar *k*). Returns ``id, fx, fy[, fz]``.
    """
    axes = _axes(state)
    has_k = "k" in bonds.columns
    bcols = ["src", "dst", "rest"] + (["k"] if has_k else [])
    both = bonds.select(*bcols).union(
        bonds.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "rest",
            *(["k"] if has_k else []),
        )
    )
    a = state.select(
        F.col("id").alias("src"), *[F.col(c).alias("a" + c) for c in axes]
    )
    b = state.select(
        F.col("id").alias("dst"), *[F.col(c).alias("b" + c) for c in axes]
    )
    e = both.join(a, "src").join(b, "dst")
    d = [F.col("b" + c) - F.col("a" + c) for c in axes]
    dist = F.sqrt(functools.reduce(operator.add, [x * x for x in d]))
    # force on src toward dst when stretched (dist > rest); coincident
    # particles (dist = 0) have no defined bond axis and exert no force —
    # the guard also keeps ANSI mode from raising DIVIDE_BY_ZERO
    mag = (F.col("k") if has_k else F.lit(k)) * (dist - F.col("rest"))
    return (
        e.select(
            F.col("src").alias("id"),
            *[
                (mag * F.when(dist > 0, x / dist).otherwise(F.lit(0.0)))
                .alias("f" + c)
                for x, c in zip(d, axes)
            ],
        )
        .groupBy("id")
        .agg(*[F.sum("f" + c).alias("f" + c) for c in axes])
    )


def step(
    state: DataFrame,
    bonds: DataFrame,
    k: float,
    dt: float,
    gravity: tuple[float, ...] | None = None,
    damping: float = 0.0,
) -> DataFrame:
    """One explicit-Euler step; returns the next state DataFrame.

    Force order matches the block kernel exactly: springs → gravity
    ``g·m`` → local damping ``f -= Dp·|f|·sign(v)`` (MLS00con.dat Dp)
    → integrate."""
    axes = _axes(state)
    g = _gravity(gravity, axes)
    f = spring_forces(state, bonds, k)
    s = state.join(f, "id", "left").fillna(0.0, ["f" + a for a in axes])
    v = []
    for a, ga in zip(axes, g):
        fa = F.col("f" + a) + F.lit(ga) * F.col("m")
        if damping != 0.0:
            fa = fa - F.lit(damping) * F.abs(fa) * F.signum("v" + a)
        v.append(F.col("v" + a) + fa / F.col("m") * dt)
    return s.select(
        "id",
        *[(F.col(a) + va * dt).alias(a) for a, va in zip(axes, v)],
        *[va.alias("v" + a) for a, va in zip(axes, v)],
        "m",
    )


def run_solver(
    state: DataFrame,
    bonds: DataFrame,
    n_steps: int,
    k: float = 1.0,
    dt: float = 0.01,
    n_out: int = 0,
    out_path: str | None = None,
    fuse: int = 1,
    gravity: tuple[float, ...] | None = None,
    damping: float = 0.0,
) -> DataFrame:
    """Advance *n_steps*; optionally append every *n_out*-th state to a
    step-partitioned Parquet snapshot store (the MLSOut cadence).

    *fuse* chains that many lazy steps per ``localCheckpoint``: the
    per-step join+agg stages still exist, but Spark runs them as ONE
    job per fuse-block instead of one eagerly-materialized job per step
    — removing the scheduler/materialization overhead that dominated
    the per-step loop. (Output cadence points must align with the fuse
    boundary; callers pass fuse dividing n_out.)
    """
    bonds = bonds.localCheckpoint(eager=False)
    i = 0
    while i < n_steps:
        burst = min(fuse, n_steps - i)
        for _ in range(burst):
            state = step(state, bonds, k, dt, gravity=gravity, damping=damping)
        i += burst
        # lazy: plan truncation is eagerness-independent; rounds fold
        # into the caller's action (or the cadence write below)
        state = state.localCheckpoint(eager=False)
        if n_out and out_path and i % n_out == 0:
            state.withColumn("step", F.lit(i)).write.mode("append").partitionBy(
                "step"
            ).parquet(out_path)
    return state


# --- halo-exchange block solvers ------------------------------------------


def run_solver_blocked(
    state: DataFrame,
    bonds: DataFrame,
    n_steps: int,
    k: float = 1.0,
    dt: float = 0.01,
    fuse: int = 25,
    block: float | None = None,
    reach: float | None = None,
    bcs: tuple[BoundaryCondition, ...] | None = None,
    step0: int = 0,
    gravity: tuple[float, ...] | None = None,
    damping: float = 0.0,
    gravity_curve: tuple[tuple[float, float], ...] | None = None,
    force_law=None,
) -> DataFrame:
    """Halo-exchange block solver — the 100 TB shape of the time loop.

    The per-step relational loop (``run_solver``) pays one join+agg
    shuffle per step; the reference does 500 000 steps
    (``MLS00con.dat:4-5``), and no engine can run 500k shuffle rounds.
    This solver amortizes: partition particles into spatial blocks,
    replicate a halo of width ``fuse × reach`` around each block, and
    advance ``fuse`` whole steps INSIDE one ``applyInPandas`` call with
    a vectorized NumPy kernel — force influence travels at most one
    bond-hop per explicit-Euler step, so owned particles are bit-exact
    for ``fuse`` steps as long as the halo covers ``fuse`` hops
    (hop length ≤ *reach* = max bond rest length × stretch bound).
    Shuffle cost drops from one round per step to one round per
    ``fuse`` steps; the inner loop runs at NumPy speed. This mirrors
    the reference's own OpenMP shared-memory decomposition
    (``CORENUM.txt``) — blocks map to executor cores, halos replace
    shared memory. In 3D each block replicates from 26 neighbours (2D:
    8); the halo filter trims replicas to the band that can influence
    the block.

    *block* (cell edge) defaults to 4× the halo width; *reach*
    defaults to 1.5 × the max bond rest length (stretch safety).

    *bcs* applies the reference's range-box boundary conditions
    (``MLSLD00.dat`` blocks) inside the kernel at every sub-step —
    velocity BCs prescribe, force BCs add — each scaled by its load
    curve evaluated at the global step time ``(step0 + i + 1) · dt``
    (*step0* = steps already simulated before this call, so curve time
    stays global across bursts). BC masks depend only on particle
    positions, which are bit-exact inside the halo, so every replica
    reaches the same verdict and the halo invariant is unchanged.
    *gravity* is a vector with one component per axis of *state*.
    """
    _gravity(gravity, _axes(state))  # fail before any Spark work
    # checkpoint BEFORE the reach agg: deriving reach is an action, and
    # on an un-checkpointed bond relation it re-ran the whole bond
    # build (q64's grid proximity join) a second time for the first
    # blocked round (guide §1.2: don't compute things twice)
    bonds = bonds.localCheckpoint(eager=False)
    if reach is None:
        max_rest = bonds.agg(F.max("rest")).collect()[0][0] or 1.0
        reach = 1.5 * float(max_rest)
    halo = fuse * reach
    if block is None:
        block = 4.0 * halo

    i = 0
    while i < n_steps:
        burst = min(fuse, n_steps - i)
        # LAZY per-round checkpoint (r16, guide §1.2/§5): checkpoint()
        # truncates the Catalyst plan at call time regardless of
        # eagerness (the returned frame is a LogicalRDD scan), so
        # laziness keeps plans bounded while folding every round into
        # the caller's single action — one job total instead of one
        # eager materialization job per round. The RDD is still
        # cache-backed, so each round computes exactly once.
        state = blocked_round(
            state, bonds, k, dt, burst, block, halo,
            bcs=bcs, step0=step0 + i, gravity=gravity, damping=damping,
            gravity_curve=gravity_curve, force_law=force_law,
        ).localCheckpoint(eager=False)
        i += burst
    return state


def blocked_round(
    state: DataFrame,
    bonds: DataFrame,
    k: float,
    dt: float,
    burst: int,
    block: float,
    halo: float,
    bcs: tuple[BoundaryCondition, ...] | None = None,
    step0: int = 0,
    gravity: tuple[float, ...] | None = None,
    damping: float = 0.0,
    gravity_curve: tuple[tuple[float, float], ...] | None = None,
    force_law=None,
) -> DataFrame:
    """One halo-exchange round (the loop body of the block solver),
    lazily built: block assignment + 3^D halo replication, local bond
    extraction, then *burst* Euler sub-steps in one cogrouped NumPy
    kernel (``_make_kernel`` documents the per-sub-step force order).
    Exposed separately so the captured plan (PLANS.md q64) shows the
    per-round shape: ONE FlatMapCoGroupsInPandas whose two inputs
    hash-partition on the block key — `burst` whole physics steps per
    shuffle round."""
    axes = _axes(state)
    bond_cols = ["rest"] + (["k"] if "k" in bonds.columns else [])
    rep, eb, keys = _halo_relations(state, bonds, bond_cols, block, halo, axes)
    kernel = _make_kernel(
        axes, bond_cols, False, burst, step0, k, dt,
        force_law if force_law is not None else linear_spring_law,
        bcs, _gravity(gravity, axes), gravity_curve, damping,
    )
    cols = _state_cols(axes)
    stepped = (
        rep.groupBy(*keys)
        .cogroup(eb.groupBy(*keys))
        .applyInPandas(kernel, schema=_schema([*cols, "owned"]))
    )
    return stepped.filter("owned").select(*cols)


def run_solver_blocked_breaking(
    state: DataFrame,
    bonds: DataFrame,
    n_steps: int,
    strain_limit: float | None,
    k: float = 1.0,
    dt: float = 0.01,
    fuse: int = 25,
    block: float | None = None,
    reach: float | None = None,
    step0: int = 0,
    bcs: tuple[BoundaryCondition, ...] | None = None,
    gravity: tuple[float, ...] | None = None,
    damping: float = 0.0,
    gravity_curve: tuple[tuple[float, float], ...] | None = None,
    bond_law=None,
) -> tuple[DataFrame, DataFrame]:
    """Block solver with strain-threshold bond removal (E3 damage: the
    reference's broken-bond series ``Output/MLSOut00B.dat``, SURVEY
    §2.4 A8 — bonds fail when stretched past a strain limit and the
    failure count per output step IS the damage curve).

    Per sub-step, before forces: a live bond with
    ``(dist - rest)/rest`` above its strength breaks NOW and exerts no
    force from this step on. Break decisions depend only on endpoint
    positions, which are bit-exact inside the halo for ``fuse`` hops,
    so every replica of a bond reaches the same verdict; each bond is
    *emitted* exactly once, by the replica that owns its ``src``
    particle. Alive bonds are carried to the next round, so breaks
    persist across shuffle rounds.

    Strength is per-bond: if *bonds* carries a ``strength`` column it
    is used directly (the reference's ``Webull.dat`` heterogeneity —
    per-bond strength drawn from a Weibull distribution; see
    ``weibull_strengths``), otherwise the scalar *strain_limit* applies
    to every bond (the homogeneous pre-round-6 behavior; pass
    ``strain_limit=None`` only with a strength column present).

    Persistent per-bond constitutive state (the UDM ``ustate`` slot)
    rides the bond relation across halo-exchange rounds exactly like
    ``alive``/``break_step``: the kernel returns each surviving bond's
    updated ``ustate`` and the next round re-reads it, so rate/damage
    laws observe one unbroken history across shuffle boundaries.

    ``reach`` defaults to ``(1 + max strength) × max rest × 1.05``: a
    live bond can never be longer (anything longer has broken), so the
    halo invariant survives stretching.

    Returns ``(final_state, bond_log)`` with one row per input bond:
    ``src, dst, rest, break_step`` (1-based global step; -1 =
    survived), plus the ``strength`` column iff the input had one.
    Callers that drive multiple bursts (the experiment damage loop)
    pass ``step0`` = steps already simulated so logged break steps stay
    global, not burst-relative.
    """
    axes = _axes(state)
    gravity = _gravity(gravity, axes)
    has_strength = "strength" in bonds.columns
    has_k = "k" in bonds.columns
    if not has_strength:
        if strain_limit is None:
            raise ValueError(
                "strain_limit is required when bonds has no strength column"
            )
        bonds = bonds.withColumn("strength", F.lit(float(strain_limit)))
    # normalize stiffness to a column (per-bond k = material
    # heterogeneity, MLSMat00.dat — see bond_stiffness_from_materials);
    # the scalar case just carries a constant column through the kernel
    if not has_k:
        bonds = bonds.withColumn("k", F.lit(float(k)))
    # persistent per-bond constitutive state (the UDM ustate slot):
    # callers may seed it; otherwise it starts at 0.0. Carried across
    # shuffle rounds exactly like alive/break_step.
    has_ustate = "ustate" in bonds.columns
    if not has_ustate:
        bonds = bonds.withColumn("ustate", F.lit(0.0))
    law = bond_law if bond_law is not None else linear_spring_breaking_law
    # checkpoint BEFORE the reach agg (same reason as run_solver_blocked:
    # the agg is an action and would otherwise re-run the caller's bond
    # build — q107's grid join — a second time for round 1)
    bonds = bonds.select(*_BOND_COLS).localCheckpoint(eager=False)
    if reach is None:
        if bond_law is not None:
            raise ValueError(
                "a custom bond_law changes when bonds can break; pass an "
                "explicit `reach` covering the law's maximum live bond "
                "length (e.g. (1 + eps_u) * max rest * margin)"
            )
        agg = bonds.agg(
            F.max("rest").alias("mr"), F.max("strength").alias("ms")
        ).collect()[0]
        max_rest = agg["mr"] or 1.0
        max_strength = agg["ms"] if agg["ms"] is not None else (strain_limit or 0.0)
        reach = 1.05 * (1.0 + float(max_strength)) * float(max_rest)
    halo = fuse * reach
    if block is None:
        block = 4.0 * halo

    cols = _state_cols(axes)
    bond_cols = _BOND_COLS[2:]
    out_schema = _schema(["kind", *cols, "owned", *_LOG_COLS])
    broken_log = state.sparkSession.createDataFrame([], _schema(_LOG_COLS))
    i = 0
    while i < n_steps:
        burst = min(fuse, n_steps - i)
        rep, eb, keys = _halo_relations(
            state, bonds, bond_cols, block, halo, axes
        )
        kernel = _make_kernel(
            axes, bond_cols, True, burst, step0 + i, k, dt, law, bcs,
            gravity, gravity_curve, damping,
        )
        # LAZY checkpoint (r16, guide §1.2/§5): plan truncation happens
        # at checkpoint() call time either way (LogicalRDD), and the
        # cache-backed RDD still computes once for all three consumers
        # (state, bond_rows, dropped guard) — but laziness folds every
        # round's materialization into the caller's final action instead
        # of paying one eager job per round.
        out = (
            rep.groupBy(*keys)
            .cogroup(eb.groupBy(*keys))
            .applyInPandas(kernel, schema=out_schema)
            .localCheckpoint(eager=False)
        )
        state = out.filter("kind = 0 AND owned").select(*cols)
        bond_rows = out.filter("kind = 1").select(*_LOG_COLS)
        # One-row-per-input-bond contract, loudly: a bond whose length
        # exceeds the halo at round start co-blocks with no replica of
        # its src (eb misses it) and would otherwise vanish from both
        # the alive set and the log. Such a bond is necessarily broken
        # already — dist > halo ≥ reach ≥ 1.05·(1+max strength)·rest —
        # so emit it as broken at this round's first sub-step rather
        # than dropping it silently (round-4 ADVICE).
        dropped = bonds.join(
            bond_rows.select("src", "dst"), ["src", "dst"], "left_anti"
        ).withColumn("break_step", F.lit(step0 + i + 1).cast("long"))
        broken_log = (
            broken_log.union(bond_rows.filter("break_step >= 0"))
            .union(dropped.select(*_LOG_COLS))
            .localCheckpoint(eager=False)
        )
        bonds = bond_rows.filter("break_step < 0").select(
            *_BOND_COLS
        ).localCheckpoint(eager=False)
        i += burst

    bond_log = (
        bonds.withColumn("break_step", F.lit(-1).cast("long"))
        .select(*_LOG_COLS)
        .union(broken_log)
    )
    keep = ["src", "dst", "rest"]
    if has_strength:
        keep.append("strength")
    if has_k:
        keep.append("k")
    if has_ustate or bond_law is not None:
        keep.append("ustate")
    return state, bond_log.select(*keep, "break_step")
