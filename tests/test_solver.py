"""Invariants for the E3 solver loop (simulation/solver.py): symmetric
spring forces conserve momentum, the snapshot cadence writes
step-partitioned output, and the loop is deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnarmodeling_spark.simulation.solver import (
    BoundaryCondition,
    run_solver,
    run_solver_blocked,
    spring_forces,
)


def _square(spark):
    # unit square, springs on the edges, rest length 0.8 (compressed)
    state = spark.createDataFrame(
        [
            (1, 0.0, 0.0, 0.0, 0.0, 1.0),
            (2, 1.0, 0.0, 0.0, 0.0, 1.0),
            (3, 1.0, 1.0, 0.0, 0.0, 1.0),
            (4, 0.0, 1.0, 0.0, 0.0, 1.0),
        ],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame(
        [(1, 2, 0.8), (2, 3, 0.8), (3, 4, 0.8), (4, 1, 0.8)],
        "src long, dst long, rest double",
    )
    return state, bonds


def test_forces_are_symmetric(spark):
    state, bonds = _square(spark)
    f = spring_forces(state, bonds, k=1.0).agg(
        F.sum("fx").alias("sx"), F.sum("fy").alias("sy")
    ).collect()[0]
    assert abs(f["sx"]) < 1e-9 and abs(f["sy"]) < 1e-9


def test_solver_contracts_compressed_springs(spark):
    state, bonds = _square(spark)
    out = {
        r["id"]: (r["x"], r["y"])
        for r in run_solver(state, bonds, n_steps=10, k=1.0, dt=0.05).collect()
    }
    # compressed springs pull the square inward, symmetrically
    assert out[1][0] > 0.0 and out[3][0] < 1.0
    cx = sum(x for x, _ in out.values()) / 4
    cy = sum(y for _, y in out.values()) / 4
    assert abs(cx - 0.5) < 1e-9 and abs(cy - 0.5) < 1e-9  # centroid fixed


def test_solver_determinism(spark):
    state, bonds = _square(spark)
    a = sorted(map(tuple, run_solver(state, bonds, 5, 1.0, 0.05).collect()))
    b = sorted(map(tuple, run_solver(state, bonds, 5, 1.0, 0.05).collect()))
    assert a == b


def test_snapshot_cadence_and_pruning(spark, tmp_path):
    state, bonds = _square(spark)
    out = str(tmp_path / "snaps")
    run_solver(state, bonds, n_steps=10, k=1.0, dt=0.05, n_out=5, out_path=out)
    snaps = spark.read.parquet(out)
    assert sorted(
        r["step"] for r in snaps.select("step").distinct().collect()
    ) == [5, 10]
    pruned = snaps.filter(F.col("step") == 10)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(step" in plan
    assert pruned.count() == 4


def _lattice(spark, nx=12, ny=6, spacing=1.0):
    """Rectangular spring lattice with slightly compressed rest lengths."""
    pts = [
        (j * nx + i, i * spacing, j * spacing, 0.0, 0.0, 1.0)
        for j in range(ny)
        for i in range(nx)
    ]
    edges = []
    for j in range(ny):
        for i in range(nx):
            a = j * nx + i
            if i + 1 < nx:
                edges.append((a, a + 1, 0.9 * spacing))
            if j + 1 < ny:
                edges.append((a, a + nx, 0.9 * spacing))
    state = spark.createDataFrame(
        pts, "id long, x double, y double, vx double, vy double, m double"
    )
    bonds = spark.createDataFrame(edges, "src long, dst long, rest double")
    return state, bonds


def test_fused_solver_matches_per_step(spark):
    """fuse>1 only changes job boundaries, never the numbers."""
    state, bonds = _square(spark)
    a = sorted(map(tuple, run_solver(state, bonds, 8, 1.0, 0.05).collect()))
    b = sorted(
        map(tuple, run_solver(state, bonds, 8, 1.0, 0.05, fuse=4).collect())
    )
    assert a == b


def test_blocked_solver_matches_per_step(spark):
    """Halo-exchange block solver must be exact for owned particles: the
    halo covers `fuse` bond-hops, and influence travels one hop per
    explicit-Euler step (the correctness argument in the docstring)."""
    state, bonds = _lattice(spark)
    ref = {
        r["id"]: r
        for r in run_solver(state, bonds, 10, k=1.0, dt=0.02).collect()
    }
    got = {
        r["id"]: r
        for r in run_solver_blocked(
            state, bonds, 10, k=1.0, dt=0.02, fuse=5, block=6.0, reach=1.2
        ).collect()
    }
    assert set(got) == set(ref)
    for i in ref:
        for c in ("x", "y", "vx", "vy"):
            assert abs(got[i][c] - ref[i][c]) < 1e-9, (i, c)


def test_blocked_solver_multi_block(spark):
    """Small blocks force real halo traffic across ≥ 4 blocks."""
    state, bonds = _lattice(spark, nx=16, ny=8)
    ref = sorted(
        map(tuple, run_solver(state, bonds, 6, k=0.5, dt=0.02).collect())
    )
    got = sorted(
        map(
            tuple,
            run_solver_blocked(
                state, bonds, 6, k=0.5, dt=0.02, fuse=3, block=4.0, reach=1.0
            ).collect(),
        )
    )
    assert len(got) == len(ref)
    for a, b in zip(got, ref):
        assert a[0] == b[0]
        for u, v in zip(a[1:], b[1:]):
            assert abs(u - v) < 1e-9


def test_coincident_particles_exert_no_force(spark):
    # dist = 0: no defined bond axis -> zero force, no ANSI
    # DIVIDE_BY_ZERO (regression: sf0.1 customer table has duplicate
    # (acctbal, custkey%97) coordinates)
    state = spark.createDataFrame(
        [
            (1, 0.5, 0.5, 0.0, 0.0, 1.0),
            (2, 0.5, 0.5, 0.0, 0.0, 1.0),
            (3, 1.5, 0.5, 0.0, 0.0, 1.0),
        ],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame(
        [(1, 2, 0.0), (2, 3, 0.9)],
        "src long, dst long, rest double",
    )
    rows = {
        r["id"]: r
        for r in spring_forces(state, bonds, k=1.0).collect()
    }
    assert rows[1]["fx"] == 0.0 and rows[1]["fy"] == 0.0
    # the 2-3 spring is stretched (1.0 > 0.9): pulls 2 toward 3
    assert rows[2]["fx"] > 0.0


# ---------------------------------------------------------------------------
# strain-threshold bond breaking (round-4: the reference's damage series)
# ---------------------------------------------------------------------------


def _chain(spark, n=12, spacing=1.0, stretch=0.3):
    """A 1-D chain with seeded velocities pulling the ends apart, so
    bonds near the ends stretch past the limit at different steps."""
    state = spark.createDataFrame(
        [
            (
                i,
                i * spacing,
                0.0,
                (stretch if i >= n // 2 else -stretch),
                0.0,
                1.0,
            )
            for i in range(n)
        ],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame(
        [(i, i + 1, spacing) for i in range(n - 1)],
        "src long, dst long, rest double",
    )
    return state, bonds


def _numpy_breaking_reference(n, spacing, stretch, limit, k, dt, steps):
    """Independent per-step loop with the same break rule (strain checked
    at the top of each step; broken bonds exert no force from then on)."""
    import numpy as np

    x = np.arange(n, dtype=np.float64) * spacing
    y = np.zeros(n)
    vx = np.where(np.arange(n) >= n // 2, stretch, -stretch).astype(np.float64)
    vy = np.zeros(n)
    src = np.arange(n - 1)
    dst = src + 1
    rest = np.full(n - 1, spacing)
    alive = np.ones(n - 1, dtype=bool)
    break_step = np.full(n - 1, -1)
    for s in range(1, steps + 1):
        dx = x[dst] - x[src]
        dy = y[dst] - y[src]
        dist = np.sqrt(dx * dx + dy * dy)
        jb = alive & (dist - rest > limit * rest)
        break_step[jb] = s
        alive &= ~jb
        mag = np.where(alive & (dist > 0), k * (dist - rest) / dist, 0.0)
        fx = np.zeros(n)
        fy = np.zeros(n)
        np.add.at(fx, src, mag * dx)
        np.add.at(fy, src, mag * dy)
        np.add.at(fx, dst, -mag * dx)
        np.add.at(fy, dst, -mag * dy)
        vx = vx + fx * dt
        vy = vy + fy * dt
        x = x + vx * dt
        y = y + vy * dt
    return x, vx, {(int(s), int(d)): int(b) for s, d, b in zip(src, dst, break_step)}


def test_breaking_solver_matches_reference(spark):
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    n, spacing, stretch, limit, k, dt, steps = 12, 1.0, 0.3, 0.05, 1.0, 0.1, 10
    state, bonds = _chain(spark, n, spacing, stretch)
    final, log = run_solver_blocked_breaking(
        state, bonds, steps, strain_limit=limit, k=k, dt=dt, fuse=steps
    )
    rx, rvx, rbreaks = _numpy_breaking_reference(
        n, spacing, stretch, limit, k, dt, steps
    )
    got = {r["id"]: r for r in final.collect()}
    assert len(got) == n
    for i in range(n):
        assert abs(got[i]["x"] - rx[i]) < 1e-9
        assert abs(got[i]["vx"] - rvx[i]) < 1e-9
    got_breaks = {
        (r["src"], r["dst"]): r["break_step"] for r in log.collect()
    }
    assert got_breaks == rbreaks
    # some bonds must actually have broken for the test to mean anything
    assert any(b > 0 for b in rbreaks.values())
    assert any(b == -1 for b in rbreaks.values())


def test_breaking_multi_round_equals_single_round(spark):
    """Breaks persist across halo-exchange rounds: chaining rounds of
    fuse=2 gives the same state and break steps as one fuse=10 round."""
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    state, bonds = _chain(spark)
    f1, l1 = run_solver_blocked_breaking(
        state, bonds, 10, strain_limit=0.05, k=1.0, dt=0.1, fuse=10
    )
    f2, l2 = run_solver_blocked_breaking(
        state, bonds, 10, strain_limit=0.05, k=1.0, dt=0.1, fuse=2
    )
    s1 = {r["id"]: (r["x"], r["vx"]) for r in f1.collect()}
    s2 = {r["id"]: (r["x"], r["vx"]) for r in f2.collect()}
    assert set(s1) == set(s2)
    for i in s1:
        assert abs(s1[i][0] - s2[i][0]) < 1e-9
        assert abs(s1[i][1] - s2[i][1]) < 1e-9
    b1 = {(r["src"], r["dst"]): r["break_step"] for r in l1.collect()}
    b2 = {(r["src"], r["dst"]): r["break_step"] for r in l2.collect()}
    assert b1 == b2


def test_experiment_damage_series_monotone(spark, tmp_path):
    """B-series with a strain limit: damage is monotone non-decreasing,
    alive-bond count monotone non-increasing, and every bond is
    accounted for."""
    from columnarmodeling_spark.simulation.experiment import (
        ExperimentConfig,
        run_experiment,
    )

    # 10×20 lattice: the 2% y-squeeze rebounds and explicit-Euler
    # overshoot stretches bonds past the 1% limit from ~step 8 on
    # (offline NumPy sweep; breaks land in every cadence window)
    particles = spark.createDataFrame(
        [
            (j * 10 + i, float(i), float(j))
            for j in range(20)
            for i in range(10)
        ],
        "id long, x double, y double",
    )
    cfg = ExperimentConfig(
        d_gap=1.5, k=1.0, dt=0.2, n_steps=40, n_out=10, fuse=10,
        strain_limit=0.01,
    )
    res = run_experiment(spark, particles, cfg, str(tmp_path / "snaps"))
    rows = sorted(res["b_series"].collect(), key=lambda r: r["step"])
    assert [r["step"] for r in rows] == [10, 20, 30, 40]
    alive = [r["n_alive_bonds"] for r in rows]
    damage = [r["damage"] for r in rows]
    assert all(a >= b for a, b in zip(alive, alive[1:]))
    assert all(d2 >= d1 for d1, d2 in zip(damage, damage[1:]))
    assert damage[-1] > 0  # the stretch chosen actually breaks bonds
    assert all(0.0 <= d <= 1.0 for d in damage)


def test_breaking_solver_never_drops_bonds(spark):
    """One-row-per-input-bond contract under the adversarial shape from
    the round-4 ADVICE: with fuse=1 (halo == reach) a bond that starts
    longer than the halo co-blocks with no replica of its src, so the
    kernel never sees it — it must surface in bond_log as broken, not
    vanish from both the alive set and the log."""
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    state = spark.createDataFrame(
        [
            (1, 0.0, 0.0, 0.0, 0.0, 1.0),
            (2, 10.0, 0.0, 0.0, 0.0, 1.0),  # 10 apart
            (3, 0.0, 0.9, 0.0, 0.0, 1.0),
        ],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame(
        # reach = 1.05*(1+0.5)*1.0 = 1.575 < 10: bond (1,2) is in no eb
        [(1, 2, 1.0), (1, 3, 0.9)],
        "src long, dst long, rest double",
    )
    _, log = run_solver_blocked_breaking(
        state, bonds, n_steps=2, strain_limit=0.5, fuse=1, step0=100
    )
    rows = {(r["src"], r["dst"]): r["break_step"] for r in log.collect()}
    assert set(rows) == {(1, 2), (1, 3)}  # nothing dropped, nothing extra
    assert rows[(1, 2)] == 101  # broken at the first global sub-step
    assert rows[(1, 3)] == -1  # healthy bond survives


def test_weibull_strengths_change_break_sequence(spark):
    """Webull.dat heterogeneity: per-bond Weibull strengths must (a) be
    deterministic across runs (md5-seeded draw), (b) produce a break
    sequence different from the homogeneous scalar limit at the same
    mean scale — heterogeneity relocalizes fracture — and (c) respect
    per-bond semantics: a bond only breaks once its OWN strength is
    exceeded."""
    import numpy as np

    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
        weibull_strengths,
    )

    n = 30
    state = spark.createDataFrame(
        [
            (
                i,
                float(i),
                0.0,
                float(i % 3 - 1) * 0.8,
                float(i % 5 - 2) * 0.4,
                1.0,
            )
            for i in range(n)
        ],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "src long, dst long, rest double",
    )
    wb = weibull_strengths(bonds, m=3.0, sigma0=0.12, salt="t")

    # (a) deterministic draw, engine-side
    s1 = {(r["src"], r["dst"]): r["strength"] for r in wb.collect()}
    s2 = {(r["src"], r["dst"]): r["strength"] for r in wb.collect()}
    assert s1 == s2
    assert len(set(s1.values())) > 10  # genuinely heterogeneous

    # matches the closed-form inverse CDF
    import hashlib

    P = 2_147_483_647
    for (src, dst), got in s1.items():
        u_int = int(hashlib.md5(f"{src}#{dst}#t".encode()).hexdigest()[:15], 16) % P
        u = float(u_int) / float(P)
        expect = round(0.12 * (-np.log(1.0 - u)) ** (1.0 / 3.0), 4)
        assert got == pytest.approx(expect, abs=1e-12), (src, dst)

    _, log_w = run_solver_blocked_breaking(
        state, wb, n_steps=10, strain_limit=None, k=1.0, dt=0.05, fuse=10
    )
    _, log_h = run_solver_blocked_breaking(
        state, bonds, n_steps=10, strain_limit=0.12, k=1.0, dt=0.05, fuse=10
    )
    seq_w = {(r["src"], r["dst"]): r["break_step"] for r in log_w.collect()}
    seq_h = {(r["src"], r["dst"]): r["break_step"] for r in log_h.collect()}
    assert set(seq_w) == set(seq_h)  # same bond population
    assert seq_w != seq_h  # (b) heterogeneity changes the sequence

    # (c) weak bonds break no later than the homogeneous run would,
    # strong bonds no earlier (same kinematics up to first divergence —
    # spot-check the extremes drawn by the seed)
    weakest = min(s1, key=s1.get)
    if seq_h[weakest] > 0:
        assert 0 < seq_w[weakest] <= seq_h[weakest]

    # (a) again, end-to-end: full replay is bit-identical
    seq_w2 = {
        (r["src"], r["dst"]): r["break_step"]
        for r in run_solver_blocked_breaking(
            state, wb, n_steps=10, strain_limit=None, k=1.0, dt=0.05, fuse=10
        )[1].collect()
    }
    assert seq_w == seq_w2


# --- round-6 physics: gravity, local damping, BC family, materials --------


def test_blocked_matches_per_step_with_gravity_damping_and_bond_k(spark):
    """The full round-6 physics (gravity g·m, local damping
    f -= Dp·|f|·sign(v), per-bond k column) must leave the halo
    invariant intact: blocked == per-step to 1e-9."""
    state, bonds = _lattice(spark)
    kb = bonds.withColumn(
        "k", 0.5 + ((F.col("src") + F.col("dst")) % 3).cast("double") * 0.4
    )
    kw = dict(k=1.0, dt=0.02, gravity=(0.07, -0.25), damping=0.45)
    ref = {
        r["id"]: r for r in run_solver(state, kb, 8, **kw).collect()
    }
    got = {
        r["id"]: r
        for r in run_solver_blocked(
            state, kb, 8, fuse=4, block=6.0, reach=1.2, **kw
        ).collect()
    }
    assert set(got) == set(ref)
    for i in ref:
        for c in ("x", "y", "vx", "vy"):
            assert abs(got[i][c] - ref[i][c]) < 1e-9, (i, c)


def test_free_fall_closed_form(spark):
    """No bonds, gravity only: explicit Euler gives v_n = n·g·dt and
    x_n = g·dt²·n(n+1)/2 exactly (MLS00con.dat Gx/Gy semantics)."""
    state = spark.createDataFrame(
        [(0, 0.0, 100.0, 0.0, 0.0, 2.0)],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame([], "src long, dst long, rest double")
    g, dt, n = -9.8, 0.01, 12
    r = run_solver_blocked(
        state, bonds, n, k=1.0, dt=dt, fuse=4, block=50.0, reach=1.0,
        gravity=(0.0, g),
    ).collect()[0]
    assert r["vy"] == pytest.approx(n * g * dt, rel=1e-12)
    assert r["y"] == pytest.approx(
        100.0 + g * dt * dt * n * (n + 1) / 2, rel=1e-12
    )
    # mass cancels: gravity is an acceleration, not a per-unit force
    assert r["vx"] == 0.0


def test_local_damping_dissipates_energy(spark):
    """Dp-damped run must end with strictly less kinetic energy than
    the undamped run (the point of MLS00con.dat Dp=0.6 for statics)."""
    state, bonds = _lattice(spark)
    def ke(df):
        return df.select(
            F.sum(
                0.5 * F.col("m") * (F.col("vx") ** 2 + F.col("vy") ** 2)
            ).alias("e")
        ).collect()[0]["e"]

    free = run_solver_blocked(
        state, bonds, 20, k=1.0, dt=0.02, fuse=10, block=6.0, reach=1.2
    )
    damped = run_solver_blocked(
        state, bonds, 20, k=1.0, dt=0.02, fuse=10, block=6.0, reach=1.2,
        damping=0.5,
    )
    assert ke(damped) < ke(free) * 0.8


def test_acceleration_bc_integrates_velocity(spark):
    """'acceleration' BC adds a·dt per sub-step inside its range box."""
    state = spark.createDataFrame(
        [(0, 0.0, 0.0, 0.0, 0.0, 1.0), (1, 30.0, 0.0, 0.0, 0.0, 1.0)],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame([], "src long, dst long, rest double")
    bc = BoundaryCondition(x1=10.0, kind="acceleration", vx=3.0, vy=0.0)
    out = {
        r["id"]: r
        for r in run_solver_blocked(
            state, bonds, 5, k=1.0, dt=0.1, fuse=5, block=100.0, reach=1.0,
            bcs=(bc,),
        ).collect()
    }
    assert out[0]["vx"] == pytest.approx(5 * 3.0 * 0.1, rel=1e-12)
    assert out[1]["vx"] == 0.0  # outside the range box


def test_nonreflection_bc_absorbs_momentum(spark):
    """Lysmer viscous absorber: a particle coasting inside the band
    loses speed monotonically; one outside keeps it."""
    state = spark.createDataFrame(
        [(0, 0.0, 0.0, 4.0, 0.0, 1.0), (1, 50.0, 0.0, 4.0, 0.0, 1.0)],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame([], "src long, dst long, rest double")
    bc = BoundaryCondition(x1=20.0, kind="nonreflection", c=1.5)
    out = {
        r["id"]: r
        for r in run_solver_blocked(
            state, bonds, 10, k=1.0, dt=0.05, fuse=5, block=100.0,
            reach=1.0, bcs=(bc,),
        ).collect()
    }
    assert 0.0 < out[0]["vx"] < 4.0
    assert out[1]["vx"] == pytest.approx(4.0)
    # explicit Euler of dv/dt = -c·v: v_n = v0·(1 - c·dt)^n
    assert out[0]["vx"] == pytest.approx(4.0 * (1 - 1.5 * 0.05) ** 10, rel=1e-12)


def test_bond_stiffness_from_materials_harmonic_mean(spark):
    from columnarmodeling_spark.simulation.solver import (
        bond_stiffness_from_materials,
    )

    bonds = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, rest double"
    )
    pmat = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 0)], "id long, mat long"
    )
    mats = spark.createDataFrame(
        [(0, 2.0), (1, 6.0)], "mat long, e_mod double"
    )
    got = {
        (r["src"], r["dst"]): r["k"]
        for r in bond_stiffness_from_materials(bonds, pmat, mats).collect()
    }
    assert got[(0, 1)] == pytest.approx(2 * 2.0 * 6.0 / 8.0)  # 3.0
    assert got[(1, 2)] == pytest.approx(3.0)  # symmetric in endpoints


def test_joint_weakening_localizes_failure(spark):
    """Bonds crossing a joint plane take the joint material and are the
    ONLY ones that fail under a load every intact bond survives — the
    point of the 4D-LSM joint model (MLSJDat/MLSJMat)."""
    from columnarmodeling_spark.operators.joints import (
        apply_joint_material,
        joint_crossings,
    )
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    # horizontal chain of 13 particles, slightly stretched springs
    n = 13
    state = spark.createDataFrame(
        [(i, float(i), 0.0, (1.0 if i >= 7 else -1.0), 0.0, 1.0)
         for i in range(n)],
        "id long, x double, y double, vx double, vy double, m double",
    )
    pts = state.select("id", "x", "y")
    bonds = spark.createDataFrame(
        [(i, i + 1, 0.98) for i in range(n - 1)],
        "src long, dst long, rest double",
    ).withColumn("k", F.lit(1.0)).withColumn("strength", F.lit(10.0))
    # vertical joint between x=6 and x=7 — exactly one bond crosses
    joints = spark.createDataFrame(
        [(1, 6.5, -5.0, 6.5, 5.0)],
        "joint_id long, jx1 double, jy1 double, jx2 double, jy2 double",
    )
    flagged = joint_crossings(bonds, pts, joints)
    assert flagged.filter("crossed").count() == 1
    weak = apply_joint_material(flagged, k_joint=0.5, strength_joint=0.01)
    # pull the two halves apart: only the joint bond may break
    _, log = run_solver_blocked_breaking(
        state, weak.drop("crossed"), n_steps=30, strain_limit=None,
        k=1.0, dt=0.02, fuse=30, block=50.0, reach=2.0,
    )
    broken = {(r["src"], r["dst"]) for r in log.filter("break_step > 0").collect()}
    assert broken == {(6, 7)}


def test_centrifuge_gravity_ramp_closed_form(spark):
    """Ramped free fall: v_N = Σ g·scale(i·dt)·dt exactly (Centrifuge.dat
    spin-up semantics — gravity through a piecewise-linear curve)."""
    import numpy as np

    state = spark.createDataFrame(
        [(0, 0.0, 50.0, 0.0, 0.0, 1.0)],
        "id long, x double, y double, vx double, vy double, m double",
    )
    bonds = spark.createDataFrame([], "src long, dst long, rest double")
    g, dt, n = -9.8, 0.01, 8
    curve = ((0.0, 0.0), (0.05, 1.0))
    r = run_solver_blocked(
        state, bonds, n, k=1.0, dt=dt, fuse=4, block=50.0, reach=1.0,
        gravity=(0.0, g), gravity_curve=curve,
    ).collect()[0]
    ct = [p[0] for p in curve]
    cv = [p[1] for p in curve]
    v_expect = sum(
        g * float(np.interp(i * dt, ct, cv)) * dt for i in range(1, n + 1)
    )
    assert r["vy"] == pytest.approx(v_expect, rel=1e-12)
    assert abs(r["vy"]) < abs(n * g * dt)  # ramp slower than constant g


def test_read_centrifuge_parser(spark, tmp_path):
    from columnarmodeling_spark.sources.text_tables import read_centrifuge

    f = tmp_path / "Centrifuge.dat"
    f.write_text("20\n60")
    assert read_centrifuge(spark, str(f)) == (20.0, 60.0)


def test_velocity_bc_overlap_last_block_wins(spark):
    """MLSLD00.dat blocks apply in file order — where two velocity
    bands overlap, the LAST block's prescription must win (regression:
    the oracle's CASE chain once nested in the wrong order and gave
    overlap corners the FIRST block's velocity)."""
    from pyspark.sql import functions as F

    from columnarmodeling_spark.simulation.solver import (
        BoundaryCondition,
        run_solver_blocked,
    )

    state = spark.createDataFrame(
        [(0, 0.0, 0.0, 0.0, 0.0, 1.0), (1, 5.0, 0.0, 0.0, 0.0, 1.0)],
        "id LONG, x DOUBLE, y DOUBLE, vx DOUBLE, vy DOUBLE, m DOUBLE",
    )
    bonds = spark.createDataFrame([(0, 1, 5.0)], "src LONG, dst LONG, rest DOUBLE")
    big = 1.0e18
    bcs = (
        # block 1 covers everything with vy = -2
        BoundaryCondition(x0=-big, x1=big, y0=-big, y1=big, vx=0.0, vy=-2.0),
        # block 2 covers x >= 4 with vx = +3 — particle 1 is in BOTH
        BoundaryCondition(x0=4.0, x1=big, y0=-big, y1=big, vx=3.0, vy=0.0),
    )
    out = {
        r["id"]: (r["vx"], r["vy"])
        for r in run_solver_blocked(
            state, bonds, n_steps=1, k=1.0, dt=0.01, fuse=1, bcs=bcs
        ).collect()
    }
    assert out[0] == (0.0, -2.0)   # only block 1
    assert out[1] == (3.0, 0.0)    # overlap: LAST block wins


# --- pluggable constitutive law (the UDM.dll analog, round 7) -------------


def test_default_laws_are_bit_identical_to_implicit(spark):
    """Passing the default laws explicitly must reproduce the implicit
    (law=None) path bit-for-bit — the plumb itself adds no arithmetic."""
    from columnarmodeling_spark.simulation.solver import (
        linear_spring_breaking_law,
        linear_spring_law,
        run_solver_blocked,
        run_solver_blocked_breaking,
    )

    state, bonds = _chain(spark)
    a = sorted(
        map(tuple, run_solver_blocked(state, bonds, 10, 1.0, 0.1, fuse=5).collect())
    )
    b = sorted(
        map(
            tuple,
            run_solver_blocked(
                state, bonds, 10, 1.0, 0.1, fuse=5,
                force_law=linear_spring_law,
            ).collect(),
        )
    )
    assert a == b
    f1, l1 = run_solver_blocked_breaking(
        state, bonds, 10, strain_limit=0.05, k=1.0, dt=0.1, fuse=5
    )
    f2, l2 = run_solver_blocked_breaking(
        state, bonds, 10, strain_limit=0.05, k=1.0, dt=0.1, fuse=5,
        reach=1.05 * 1.05 * 1.0,
        bond_law=linear_spring_breaking_law,
    )
    assert sorted(map(tuple, f1.collect())) == sorted(map(tuple, f2.collect()))
    g1 = sorted(
        (r["src"], r["dst"], r["break_step"]) for r in l1.collect()
    )
    g2 = sorted(
        (r["src"], r["dst"], r["break_step"]) for r in l2.collect()
    )
    assert g1 == g2


def test_softening_ustate_survives_round_boundary(spark):
    """Damage memory (ustate) must carry across halo-exchange shuffle
    rounds: fuse=2 chaining equals one fuse=10 round under the bilinear
    softening law, including the terminal damage state."""
    from columnarmodeling_spark.simulation.solver import (
        bilinear_softening_law,
        run_solver_blocked_breaking,
    )

    state, bonds = _chain(spark)
    # eps_y = 0.02 -> eps_u = 0.04: the chain's stretch drives bonds
    # through softening INTO breakage (0.05 would only soften them)
    reach = 1.05 * (1.0 + 2.0 * 0.02) * 1.0
    outs = []
    for fuse in (10, 2):
        f, log = run_solver_blocked_breaking(
            state, bonds, 10, strain_limit=0.02, k=1.0, dt=0.1,
            fuse=fuse, reach=reach, bond_law=bilinear_softening_law,
        )
        outs.append(
            (
                sorted(map(tuple, f.collect())),
                sorted(
                    (
                        r["src"], r["dst"], r["break_step"],
                        round(r["ustate"], 12),
                    )
                    for r in log.collect()
                ),
            )
        )
    assert outs[0] == outs[1]
    # the scenario must actually soften and break for this to mean much
    assert any(b > 0 for _, _, b, _ in outs[0][1])
    # a broken bond's damage is frozen at its break value >= eps_u
    # (survivor-side softening-band coverage lives in q192's sf-data
    # scenario, which has 38 softened survivors at sf0.01)
    assert all(u >= 0.04 for _, _, b, u in outs[0][1] if b > 0)
    assert any(b == -1 for _, _, b, _ in outs[0][1])


def test_bilinear_law_softens_and_never_heals():
    """Pure-NumPy law contract: capacity decays past yield, unloading
    follows the damaged secant (no healing), break at eps_u."""
    import numpy as np

    from columnarmodeling_spark.simulation.solver import (
        bilinear_softening_law,
    )

    rest = np.array([1.0])
    k = np.array([2.0])
    s = np.array([0.1])  # eps_y = 0.1, eps_u = 0.2
    alive = np.ones(1, dtype=bool)
    u = np.zeros(1)
    # elastic: strain 0.05 < eps_y -> full stiffness
    mag, jb, u = bilinear_softening_law(
        np.array([1.05]), rest, k, s, u, alive
    )
    assert jb is not None and not jb[0]
    assert abs(mag[0] - 2.0 * 0.05 / 1.05) < 1e-12
    # load into the softening band: strain 0.15 -> capacity halved
    mag_soft, jb, u = bilinear_softening_law(
        np.array([1.15]), rest, k, s, u, alive
    )
    assert not jb[0] and abs(u[0] - 0.15) < 1e-12
    full = 2.0 * 0.15 / 1.15
    assert 0.0 < mag_soft[0] < full
    # unload to strain 0.05: damaged secant, NOT the virgin stiffness
    mag_unload, jb, u = bilinear_softening_law(
        np.array([1.05]), rest, k, s, u, alive
    )
    assert not jb[0] and abs(u[0] - 0.15) < 1e-12  # damage never decreases
    assert 0.0 < mag_unload[0] < 2.0 * 0.05 / 1.05
    # compression stays undamaged-linear
    mag_comp, _, u = bilinear_softening_law(
        np.array([0.9]), rest, k, s, u, alive
    )
    assert abs(mag_comp[0] - 2.0 * (-0.1) / 0.9) < 1e-12
    # ultimate strain: breaks, force zero
    mag_b, jb, u = bilinear_softening_law(
        np.array([1.25]), rest, k, s, u, alive
    )
    assert jb[0] and mag_b[0] == 0.0


def test_kelvin_voigt_state_survives_round_boundary(spark):
    """q205's previous-length state (finite-difference rate memory)
    must carry across halo-exchange shuffle rounds exactly like q192's
    damage memory: fuse=2 chaining equals one fuse=10 round, including
    break steps and the terminal length state."""
    from columnarmodeling_spark.queries.simulation import _kelvin_voigt_law
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    state, bonds = _chain(spark)
    law = _kelvin_voigt_law(0.1, 0.5)
    reach = 1.05 * (1.0 + 0.05) * 1.0
    outs = []
    for fuse in (10, 2):
        f, log = run_solver_blocked_breaking(
            state, bonds, 10, strain_limit=0.05, k=1.0, dt=0.1,
            fuse=fuse, reach=reach, bond_law=law,
        )
        outs.append(
            (
                sorted(map(tuple, f.collect())),
                sorted(
                    (
                        r["src"], r["dst"], r["break_step"],
                        round(r["ustate"], 12),
                    )
                    for r in log.collect()
                ),
            )
        )
    assert outs[0] == outs[1]
    # the scenario must break some bonds and keep others for this to
    # exercise both the frozen and the live state paths
    assert any(b > 0 for _, _, b, _ in outs[0][1])
    assert any(b == -1 for _, _, b, _ in outs[0][1])


def test_kelvin_voigt_eta_zero_is_plain_breaking_law():
    """With η = 0 the viscoelastic law's force and verdicts are
    bit-identical to the default breaking law on arbitrary inputs (the
    dashpot is the ONLY addition); ustate semantics differ by design
    (previous length vs untouched)."""
    import numpy as np

    from columnarmodeling_spark.queries.simulation import _kelvin_voigt_law
    from columnarmodeling_spark.simulation.solver import (
        linear_spring_breaking_law,
    )

    rng = np.random.default_rng(7)
    n = 256
    dist = rng.uniform(0.5, 1.6, n)
    rest = rng.uniform(0.8, 1.2, n)
    k = rng.uniform(0.5, 2.0, n)
    s = np.full(n, 0.2)
    u = rng.uniform(0.0, 1.5, n)
    alive = rng.random(n) < 0.9
    kv = _kelvin_voigt_law(0.05, 0.0)
    mag_a, jb_a, _ = kv(dist, rest, k, s, u.copy(), alive)
    mag_b, jb_b, _ = linear_spring_breaking_law(
        dist, rest, k, s, u.copy(), alive
    )
    # eta=0 leaves a (+ 0.0·rate)/dist vs (·1/dist) association gap:
    # k*(d-r) + 0.0*rate == k*(d-r) exactly in IEEE (x + 0.0 == x for
    # finite x), so the magnitudes are bit-identical, not just close
    assert np.array_equal(mag_a, mag_b)
    assert np.array_equal(jb_a, jb_b)


def test_kelvin_voigt_dashpot_opposes_rate():
    """The viscous term must oppose the stretch rate: a bond lengthening
    faster transmits MORE tensile force, a recoiling bond less, and the
    no-history sentinel (ustate=0) yields the pure spring force."""
    import numpy as np

    from columnarmodeling_spark.queries.simulation import _kelvin_voigt_law

    law = _kelvin_voigt_law(0.1, 0.5)
    rest = np.array([1.0, 1.0, 1.0])
    k = np.array([1.0, 1.0, 1.0])
    s = np.array([9.0, 9.0, 9.0])  # never break
    alive = np.ones(3, dtype=bool)
    dist = np.array([1.1, 1.1, 1.1])
    # prev lengths: stretching (1.0 -> 1.1), recoiling (1.2 -> 1.1),
    # no history (sentinel 0)
    u = np.array([1.0, 1.2, 0.0])
    mag, _, u2 = law(dist, rest, k, s, u, alive)
    spring = 0.1 / 1.1
    assert mag[0] > spring  # stretching: dashpot adds tension
    assert mag[1] < spring  # recoiling: dashpot subtracts
    assert abs(mag[2] - spring) < 1e-15  # sentinel: pure spring
    assert np.allclose(u2, dist)  # state advances to current length


def test_checked_positions_empty_ids_raise_keyerror():
    """A block with no particles holds none of the wanted ids: the
    halo-invariant KeyError names them (not an IndexError from
    indexing the empty id array)."""
    import numpy as np

    from columnarmodeling_spark.simulation.solver import _checked_positions

    with pytest.raises(KeyError, match=r"\[5, 7\]"):
        _checked_positions(np.array([], np.int64), np.array([5, 7]))
    assert _checked_positions(
        np.array([], np.int64), np.array([], np.int64)
    ).size == 0
    with pytest.raises(KeyError, match=r"\[4\]"):
        _checked_positions(np.array([1, 3, 5]), np.array([3, 4]))
    assert _checked_positions(
        np.array([1, 3, 5]), np.array([5, 1])
    ).tolist() == [2, 0]
