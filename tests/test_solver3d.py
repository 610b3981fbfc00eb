"""3D block-solver invariants (simulation/solver.py on a state with a
z column): the halo argument must hold one dimension up — blocked ==
per-step to 1e-9 with real 3x3x3 halo traffic — plus z free fall and
3-axis BC boxes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnarmodeling_spark.simulation.solver import (
    BoundaryCondition,
    run_solver,
    run_solver_blocked,
    run_solver_blocked_breaking,
    spring_forces,
)


def _lattice3d(spark, nx=6, ny=5, nz=4, spacing=1.0):
    pts = []
    edges = []
    for kz in range(nz):
        for j in range(ny):
            for i in range(nx):
                a = (kz * ny + j) * nx + i
                pts.append(
                    (a, i * spacing, j * spacing, kz * spacing,
                     0.0, 0.0, 0.0, 1.0)
                )
                if i + 1 < nx:
                    edges.append((a, a + 1, 0.9 * spacing))
                if j + 1 < ny:
                    edges.append((a, a + nx, 0.9 * spacing))
                if kz + 1 < nz:
                    edges.append((a, a + nx * ny, 0.9 * spacing))
    state = spark.createDataFrame(
        pts,
        "id long, x double, y double, z double, "
        "vx double, vy double, vz double, m double",
    )
    bonds = spark.createDataFrame(edges, "src long, dst long, rest double")
    return state, bonds


def test_forces3d_symmetric(spark):
    state, bonds = _lattice3d(spark)
    f = spring_forces(state, bonds, k=1.0).agg(
        F.sum("fx").alias("sx"),
        F.sum("fy").alias("sy"),
        F.sum("fz").alias("sz"),
    ).collect()[0]
    assert abs(f["sx"]) < 1e-9 and abs(f["sy"]) < 1e-9 and abs(f["sz"]) < 1e-9


def test_blocked3d_matches_per_step(spark):
    """Real multi-block 3D halo traffic, with gravity + damping on."""
    state, bonds = _lattice3d(spark)
    kw = dict(k=1.0, dt=0.02, gravity=(0.05, -0.1, 0.08), damping=0.3)
    ref = {
        r["id"]: r for r in run_solver(state, bonds, 8, fuse=2, **kw).collect()
    }
    got = {
        r["id"]: r
        for r in run_solver_blocked(
            state, bonds, 8, fuse=2, block=3.0, reach=1.2, **kw
        ).collect()
    }
    assert set(got) == set(ref)
    for i in ref:
        for c in ("x", "y", "z", "vx", "vy", "vz"):
            assert abs(got[i][c] - ref[i][c]) < 1e-9, (i, c)


def test_free_fall_z(spark):
    state = spark.createDataFrame(
        [(0, 0.0, 0.0, 100.0, 0.0, 0.0, 0.0, 2.0)],
        "id long, x double, y double, z double, "
        "vx double, vy double, vz double, m double",
    )
    bonds = spark.createDataFrame([], "src long, dst long, rest double")
    g, dt, n = -9.8, 0.01, 10
    r = run_solver_blocked(
        state, bonds, n, k=1.0, dt=dt, fuse=5, block=50.0, reach=1.0,
        gravity=(0.0, 0.0, g),
    ).collect()[0]
    assert r["vz"] == pytest.approx(n * g * dt, rel=1e-12)
    assert r["z"] == pytest.approx(
        100.0 + g * dt * dt * n * (n + 1) / 2, rel=1e-12
    )


def test_3axis_bc_box(spark):
    """A velocity BC with a z-range box grabs only the slab inside it —
    the MLSLD00.dat '0 50 / 0 50 / 49 50' top-platen shape."""
    state, bonds = _lattice3d(spark, nx=4, ny=4, nz=4)
    bc = BoundaryCondition(z0=2.5, kind="velocity", vx=0.0, vy=0.0, vz=-2.0)
    out = run_solver_blocked(
        state, bonds, 4, k=0.0, dt=0.05, fuse=4, block=20.0, reach=1.0,
        bcs=(bc,),
    )
    rows = out.collect()
    for r in rows:
        if r["z"] < 2.0:  # never entered the box
            assert r["vz"] == 0.0
    # the top slab (z started at 3.0) is moving down at the prescribed v
    top = [r for r in rows if r["vz"] != 0.0]
    assert len(top) == 16
    for r in top:
        assert r["vz"] == -2.0


def test_breaking3d_state_survives_round_boundary(spark):
    """The q212 guarantee: a stateful law (Kelvin-Voigt, ustate =
    previous bond length) through run_solver_blocked_breaking gives
    BIT-identical results whether 8 steps run as one burst (fuse=8,
    state never leaves the kernel) or two bursts (fuse=4, state rides
    the bond relation across the 3x3x3 halo-exchange shuffle). Any
    per-round ustate reset would zero the dashpot rate at step 5 and
    shift forces. Also pins the breaking path: the stretched lattice
    must actually lose bonds."""
    from columnarmodeling_spark.queries.simulation import _kelvin_voigt_law

    state, bonds = _lattice3d(spark)
    # kick the lattice hard enough that some bonds pass 15% strain
    state = state.select(
        "id", "x", "y", "z",
        ((F.col("id") % 3 - 1).cast("double") * 1.2).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 0.8).alias("vy"),
        ((F.col("id") % 7 - 3).cast("double") * 0.5).alias("vz"),
        "m",
    )
    dt, eta, eps_b = 0.05, 0.3, 0.15
    reach = 1.05 * (1.0 + eps_b) * 0.9
    law = _kelvin_voigt_law(dt, eta)

    def run(fuse):
        fin, log = run_solver_blocked_breaking(
            state, bonds, n_steps=8, strain_limit=eps_b, k=1.0, dt=dt,
            fuse=fuse, block=2.5, reach=reach, bond_law=law,
        )
        f = {r["id"]: r for r in fin.collect()}
        b = {(r["src"], r["dst"]): r for r in log.collect()}
        return f, b

    f1, b1 = run(8)   # one burst: state never crosses a shuffle
    f2, b2 = run(4)   # two bursts: state must ride the bond column
    assert set(b1) == set(b2) == {
        (r["src"], r["dst"]) for r in bonds.collect()
    }
    n_broken = sum(1 for r in b1.values() if r["break_step"] > 0)
    assert n_broken > 0, "scenario must exercise the break path"
    assert any(
        r["break_step"] > 4 for r in b1.values()
    ), "a break after the fuse=4 boundary is what pins the state carry"
    for key in b1:
        assert b1[key]["break_step"] == b2[key]["break_step"], key
        assert b1[key]["ustate"] == b2[key]["ustate"], key
    assert set(f1) == set(f2)
    for i in f1:
        for c in ("x", "y", "z", "vx", "vy", "vz"):
            assert f1[i][c] == f2[i][c], (i, c)


def test_bilinear3d_damage_survives_round_boundary(spark):
    """The q292 guarantee: the bilinear law's IRREVERSIBLE max-strain
    damage state through run_solver_blocked_breaking is bit-identical
    whether 8 steps run as one burst or two fuse=4 bursts (damage rides
    the bond relation across the halo-exchange shuffle). A per-round
    reset would let softened bonds re-stiffen at step 5 — the exact
    healing bug the persistent ustate exists to prevent. Also pins:
    damage is monotone (never below 0), frozen at its break value for
    broken bonds, and the scenario actually breaks bonds past eps_u."""
    from columnarmodeling_spark.simulation.solver import (
        bilinear_softening_law,
    )

    state, bonds = _lattice3d(spark)
    state = state.select(
        "id", "x", "y", "z",
        ((F.col("id") % 3 - 1).cast("double") * 1.2).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 0.8).alias("vy"),
        ((F.col("id") % 7 - 3).cast("double") * 0.5).alias("vz"),
        "m",
    )
    eps_y = 0.08  # eps_u = 0.16
    reach = 1.05 * (1.0 + 2.0 * eps_y) * 0.9

    def run(fuse):
        fin, log = run_solver_blocked_breaking(
            state, bonds, n_steps=8, strain_limit=eps_y, k=1.0, dt=0.05,
            fuse=fuse, block=2.5, reach=reach,
            bond_law=bilinear_softening_law,
        )
        f = {r["id"]: r for r in fin.collect()}
        b = {(r["src"], r["dst"]): r for r in log.collect()}
        return f, b

    f1, b1 = run(8)
    f2, b2 = run(4)
    assert set(b1) == set(b2)
    n_broken = sum(1 for r in b1.values() if r["break_step"] > 0)
    assert n_broken > 0, "scenario must exercise the break path"
    assert any(
        r["break_step"] > 4 for r in b1.values()
    ), "a break after the fuse=4 boundary pins the damage carry"
    for key in b1:
        assert b1[key]["break_step"] == b2[key]["break_step"], key
        assert b1[key]["ustate"] == b2[key]["ustate"], key
        assert b1[key]["ustate"] >= 0.0
        if b1[key]["break_step"] > 0:
            assert b1[key]["ustate"] >= 2.0 * eps_y
    for i in f1:
        for c in ("x", "y", "z", "vx", "vy", "vz"):
            assert f1[i][c] == f2[i][c], (i, c)


def test_3d_on_a_plane_is_2d_bit_for_bit(spark):
    """The same particles run as a 2D state and as a 3D state with
    z = vz = 0 give bit-identical x, y, vx, vy and bond logs — with
    per-bond k, all four BC kinds (velocity with a curve, force,
    nonreflection, acceleration), damping, a gravity curve and several
    blocks, through the elastic driver and the breaking driver with
    the default and the bilinear law. One round per run; inputs in one
    partition so every block sees its rows in the same order."""
    import random

    from columnarmodeling_spark.simulation.solver import (
        bilinear_softening_law,
    )

    rnd = random.Random(11)
    nx, ny = 10, 8
    pts, edges = [], []
    for j in range(ny):
        for i in range(nx):
            pts.append(
                (j * nx + i, i + rnd.uniform(-0.08, 0.08),
                 j + rnd.uniform(-0.08, 0.08),
                 rnd.uniform(-0.6, 0.6), rnd.uniform(-0.6, 0.6),
                 1.0 + 0.2 * rnd.random())
            )
    for a, xa, ya, *_ in pts:
        for b in (a + 1, a + nx):
            if (b == a + 1 and b % nx == 0) or b >= nx * ny:
                continue
            xb, yb = pts[b][1], pts[b][2]
            d = ((xa - xb) ** 2 + (ya - yb) ** 2) ** 0.5
            edges.append((a, b, 0.97 * d, 0.8 + 0.4 * rnd.random()))
    assert len(edges) == 142
    s2 = spark.createDataFrame(
        pts, "id long, x double, y double, vx double, vy double, m double"
    ).coalesce(1)
    s3 = spark.createDataFrame(
        [(i, x, y, 0.0, vx, vy, 0.0, m) for i, x, y, vx, vy, m in pts],
        "id long, x double, y double, z double, "
        "vx double, vy double, vz double, m double",
    ).coalesce(1)
    bonds = spark.createDataFrame(
        edges, "src long, dst long, rest double, k double"
    ).coalesce(1)
    bcs = (
        BoundaryCondition(y0=6.5, kind="velocity", vx=0.05, vy=-0.3,
                          curve=((0.0, 0.0), (0.1, 1.0))),
        BoundaryCondition(x1=0.5, kind="force", vx=0.2, vy=0.1),
        BoundaryCondition(x0=8.4, kind="nonreflection", c=0.7),
        BoundaryCondition(y1=0.5, kind="acceleration", vx=0.3, vy=0.2,
                          curve=((0.0, 0.5), (0.1, 1.0))),
    )
    kw = dict(dt=0.05, fuse=4, bcs=bcs, damping=0.3,
              gravity_curve=((0.0, 0.0), (0.15, 1.0)))
    g2, g3 = (0.1, -0.5), (0.1, -0.5, 0.0)
    eps = 0.05

    def hexed(v):
        return v.hex() if isinstance(v, float) else v

    def state_of(df):
        return {
            r["id"]: tuple(r[c].hex() for c in ("x", "y", "vx", "vy"))
            for r in df.collect()
        }

    def log_of(df):
        return {
            (r["src"], r["dst"]): {c: hexed(v) for c, v in r.asDict().items()}
            for r in df.collect()
        }

    elastic = [
        state_of(run_solver_blocked(
            s, bonds, 4, block=5.0, reach=1.2, gravity=g, **kw
        ))
        for s, g in ((s2, g2), (s3, g3))
    ]
    assert len(elastic[0]) == nx * ny and elastic[0] == elastic[1]
    for law, reach in (
        (None, 1.05 * (1 + eps) * 1.2),
        (bilinear_softening_law, 1.05 * (1 + 2 * eps) * 1.2),
    ):
        runs = []
        for s, g in ((s2, g2), (s3, g3)):
            fin, log = run_solver_blocked_breaking(
                s, bonds, 4, strain_limit=eps, block=5.5, reach=reach,
                gravity=g, bond_law=law, **kw
            )
            runs.append((state_of(fin), log_of(log)))
        (f2, l2), (f3, l3) = runs
        assert len(l2) == len(edges)
        assert any(r["break_step"] > 0 for r in l2.values())
        assert f2 == f3 and l2 == l3
