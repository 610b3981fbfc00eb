"""Simulation-shaped pipelines on testdata (SURVEY §2.4 A7/A8, §3 E1/E3).

The reference's post-processing surface: per-step reaction aggregation →
stress–strain curve (``Output/MLSOut00E.dat``), per-step bbox + damage
scalar (``Output/MLSOut00B.dat``), the Lloyd-iteration refinement loop
(``GenerateColumnar.py:80-111``), and the greedy grain selection
(``:253-263``). Re-expressed on the events/customer tables so every step
has a DuckDB oracle — including the *iterative* Lloyd loop, whose 3
unrolled iterations the oracle replays as a CTE chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnarmodeling_spark.operators.load_curves import interpolate_curves
from columnarmodeling_spark.operators.selection import greedy_disjoint_select
from columnarmodeling_spark.queries import register
from columnarmodeling_spark.queries._util import t


@register(
    "q60_stress_strain",
    oracle="""
    WITH steps AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS step,
             sum(value)  AS reaction,
             count(*)    AS n_probes
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY 1)
    SELECT step,
           round(reaction, 4) AS reaction,
           n_probes,
           round(reaction - lag(reaction) OVER (ORDER BY step), 4) AS delta
    FROM steps
    """,
    doc="Stress–strain curve pipeline (SURVEY §2.4 A7 + §2.5 W3): range "
    "filter (platen predicate, MLSLD00.dat) → per-step reaction "
    "aggregation (MLSOut00E.dat shape) → step-over-step delta via lag.",
    tags=("simulation", "agg", "window", "A7", "W3"),
)
def q60_stress_strain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    steps = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            (F.unix_timestamp("ts") / 3600).cast("long").alias("step")
        )
        .agg(
            F.sum("value").alias("reaction_raw"),
            F.count("*").alias("n_probes"),
        )
    )
    w = W.orderBy("step")
    return steps.select(
        "step",
        F.round("reaction_raw", 4).alias("reaction"),
        "n_probes",
        F.round(
            F.col("reaction_raw") - F.lag("reaction_raw").over(w), 4
        ).alias("delta"),
    )


@register(
    "q61_bbox_damage",
    oracle="""
    SELECT event_type,
           CAST(min(floor(epoch(ts))) AS BIGINT) AS t_min,
           CAST(max(floor(epoch(ts))) AS BIGINT) AS t_max,
           round(min(value), 4) AS v_min,
           round(max(value), 4) AS v_max,
           round(sum(CASE WHEN value < 5.0 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS damage_ratio
    FROM events
    GROUP BY event_type
    """,
    doc="Global bbox + damage aggregation (SURVEY §2.4 A8: per-step "
    "min/max coords + broken-bond ratio, MLSOut00B.dat — final row "
    "'0.5 45.5 ... 0.046240').",
    tags=("simulation", "agg", "A8"),
)
def q61_bbox_damage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.min(F.unix_timestamp("ts")).alias("t_min"),
        F.max(F.unix_timestamp("ts")).alias("t_max"),
        F.round(F.min("value"), 4).alias("v_min"),
        F.round(F.max("value"), 4).alias("v_max"),
        F.round(
            F.sum(F.when(F.col("value") < 5.0, 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("damage_ratio"),
    )


# --- Iterative refinement (E1's Lloyd loop) --------------------------------

_N_ITER = 3
_PTS = """
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y
      FROM customer
"""
_C0 = """
      SELECT c_custkey AS cid, c_acctbal AS cx,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS cy
      FROM customer WHERE c_custkey <= 5
"""


def _lloyd_oracle() -> str:
    parts = [f"WITH pts AS ({_PTS}),\n c0 AS ({_C0})"]
    for i in range(1, _N_ITER + 1):
        prev = f"c{i - 1}"
        parts.append(
            f""",
 a{i} AS (
   SELECT id, x, y, cid FROM (
     SELECT p.id, p.x, p.y, c.cid,
            row_number() OVER (
              PARTITION BY p.id
              ORDER BY (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy), c.cid
            ) AS rn
     FROM pts p CROSS JOIN {prev} c) WHERE rn = 1),
 c{i} AS (
   SELECT cid, round(avg(x), 6) AS cx, round(avg(y), 6) AS cy
   FROM a{i} GROUP BY cid)"""
        )
    parts.append(
        f"""
 SELECT c.cid AS cluster_id, c.cx, c.cy, s.n_points
 FROM c{_N_ITER} c
 JOIN (SELECT cid, count(*) AS n_points FROM a{_N_ITER} GROUP BY cid) s
   USING (cid)"""
    )
    return "".join(parts)


@register(
    "q62_lloyd_iteration",
    oracle=_lloyd_oracle(),
    doc="Iterative refinement loop (SURVEY §3 E1: Lloyd's relaxation — "
    "assign points to nearest site, move site to cell centroid, "
    "repeat ×50, GenerateColumnar.py:80-111). Engine form: driver "
    "loop over DataFrame iterations, centroids collected each pass "
    "(K rows, not the point cloud), localCheckpoint to truncate "
    "lineage. Centroids rounded to 6dp per iteration so both engines' "
    "float summation stays aligned. Oracle unrolls 3 iterations as a "
    "CTE chain.",
    tags=("simulation", "iterative", "E1", "scale"),
)
def q62_lloyd_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    )
    cents = [
        (int(r["id"]), float(r["x"]), float(r["y"]))
        for r in pts.filter(F.col("id") <= 5).collect()
    ]

    assign = None
    for _ in range(_N_ITER):
        cent_df = F.broadcast(
            spark.createDataFrame(cents, "cid LONG, cx DOUBLE, cy DOUBLE")
        )
        dx = F.col("x") - F.col("cx")
        dy = F.col("y") - F.col("cy")
        d2 = dx * dx + dy * dy  # plain multiplication: bit-identical to the oracle's (a-b)*(a-b)
        w = W.partitionBy("id").orderBy(d2.asc(), F.col("cid").asc())
        assign = (
            pts.crossJoin(cent_df)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "x", "y", "cid")
        )
        new_cents = (
            assign.groupBy("cid")
            .agg(
                F.round(F.avg("x"), 6).alias("cx"),
                F.round(F.avg("y"), 6).alias("cy"),
            )
            .collect()
        )
        cents = [
            (int(r["cid"]), float(r["cx"]), float(r["cy"])) for r in new_cents
        ]

    sizes = assign.groupBy("cid").agg(F.count("*").alias("n_points"))
    cent_final = spark.createDataFrame(cents, "cid LONG, cx DOUBLE, cy DOUBLE")
    return (
        cent_final.join(sizes, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "cx",
            "cy",
            "n_points",
        )
    )


@register(
    "q63_greedy_selection",
    oracle="""
    WITH RECURSIVE cand AS (
      SELECT concat_ws('#', o_orderpriority,
                       CAST(day(o_orderdate) AS VARCHAR)) AS cand_id,
             list(DISTINCT o_custkey) AS custs
      FROM orders
      GROUP BY o_orderpriority, day(o_orderdate)),
    ordered AS (
      SELECT cand_id, custs,
             row_number() OVER (ORDER BY md5(cand_id)) AS rn
      FROM cand),
    walk(rn, cid, took, acc, n_taken) AS (
      SELECT 0, CAST(NULL AS VARCHAR), false, CAST([] AS BIGINT[]), 0
      UNION ALL
      SELECT o.rn, o.cand_id,
             NOT list_has_any(w.acc, o.custs),
             CASE WHEN NOT list_has_any(w.acc, o.custs)
                  THEN list_concat(w.acc, o.custs) ELSE w.acc END,
             w.n_taken
               + CASE WHEN NOT list_has_any(w.acc, o.custs)
                      THEN 1 ELSE 0 END
      FROM walk w JOIN ordered o ON o.rn = w.rn + 1
      WHERE w.n_taken < 8)
    SELECT o.cand_id, CAST(len(o.custs) AS BIGINT) AS n_customers
    FROM walk w JOIN ordered o ON o.rn = w.rn
    WHERE w.took
    """,
    doc="Greedy randomized selection under disjointness (SURVEY §2.5 W4: "
    "GenerateColumnar.py:253-263,289-299 — shuffle pool, take until "
    "quota, skip on node overlap). Deterministic md5 ordering replaces "
    "random.shuffle; sequential fold on the driver over the small "
    "candidate table (operators/selection.py); heavy key-set build "
    "stays distributed. The fold is deterministic, so the oracle "
    "unrolls it as a DuckDB recursive CTE walking the md5-ordered "
    "candidate list with a running accepted-key set — W4 is "
    "hash-checked, not rows-only. Exact semantics also "
    "property-tested in tests/test_selection.py.",
    tags=("simulation", "W4", "sequential"),
)
def q63_greedy_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    candidates = (
        o.groupBy("o_orderpriority", F.dayofmonth("o_orderdate").alias("dom"))
        .agg(F.collect_set("o_custkey").alias("custs"))
        .withColumn(
            "cand_id",
            F.concat_ws("#", "o_orderpriority", F.col("dom").cast("string")),
        )
        .withColumn("ord", F.md5("cand_id"))
    )
    chosen = greedy_disjoint_select(
        candidates, order_col="ord", id_col="cand_id", key_set_col="custs", quota=8
    )
    sel = spark.createDataFrame([(c,) for c in chosen], "cand_id STRING")
    return (
        candidates.join(F.broadcast(sel), "cand_id")
        .select(
            "cand_id",
            F.size("custs").cast("long").alias("n_customers"),
        )
    )


def _solver_oracle(
    n_steps: int,
    k: str,
    dt: str,
    eps: str,
    gx: str = "0.0",
    gy: str = "0.0",
    dp: str = "0.0",
    bond_k: str | None = None,
    measure: tuple[int, tuple[int, ...]] | None = None,
    g_steps: tuple[tuple[str, str], ...] | None = None,
    vel_bcs: tuple[tuple[float, float, float, float, float, float], ...]
    | None = None,
    pts_where: str | None = None,
) -> str:
    """Unroll n_steps explicit-Euler steps as a DuckDB CTE chain.

    The bond set and every arithmetic expression mirror the Spark side
    operation-for-operation (same IEEE ops in the same association), so
    the two engines agree to summation-order noise (~1e-12 relative),
    absorbed by the 6dp output rounding — the same unrolled-iteration
    oracle pattern as q62's Lloyd loop.

    Optional physics (emitted only when non-default, so q64's SQL is
    byte-identical to the pre-round-6 text): *gx*/*gy* gravity
    (MLS00con.dat Gx/Gy — force += g·m), *dp* local damping
    (MLS00con.dat Dp — f -= Dp·|f|·sign(v), the kernel's exact order:
    springs → gravity → damping → integrate), *bond_k* a SQL
    expression over bond endpoints ``a``/``b`` giving per-bond
    stiffness (MLSMat00.dat materials; replaces the scalar *k*).
    *measure* = (cadence, particle ids): instead of the final state,
    emit the M-series — per-output-step rows for the measured ids with
    displacement from the initial position (MeasurePar.dat semantics).
    """
    k_sel = ",\n             " + bond_k + " AS k" if bond_k else ""
    # inside f{i} the force subquery reads d{i}, where the per-bond
    # stiffness is the plain column `k`
    k_use = "k" if bond_k else k
    where = f"\n      WHERE {pts_where}" if pts_where else ""
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y
      FROM customer{where}),
    bonds AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             0.9 * sqrt((a.x - b.x) * (a.x - b.x)
                        + (a.y - b.y) * (a.y - b.y)) AS rest{k_sel}
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) < {eps}),
    s0 AS MATERIALIZED (SELECT id, x, y, 0.0 AS vx, 0.0 AS vy, 1.0 AS m FROM pts)"""
    # total force with optional gravity, then optional local damping —
    # association mirrors the NumPy kernel exactly. *g_steps* overrides
    # gravity PER STEP (the centrifuge ramp: the kernel's gx·scale(t)
    # products are computed in Python at oracle-build time and embedded
    # as exact repr literals, so both engines multiply identical
    # doubles).
    def _force_exprs(i: int) -> tuple[str, str]:
        sgx, sgy = g_steps[i - 1] if g_steps else (gx, gy)
        fx_t = "coalesce(f.fx, 0.0)"
        fy_t = "coalesce(f.fy, 0.0)"
        if sgx != "0.0" or sgy != "0.0":
            fx_t = f"({fx_t} + {sgx} * s.m)"
            fy_t = f"({fy_t} + {sgy} * s.m)"
        if dp != "0.0":
            fx_t = f"({fx_t} - {dp} * abs({fx_t}) * sign(s.vx))"
            fy_t = f"({fy_t} - {dp} * abs({fy_t}) * sign(s.vy))"
        return fx_t, fy_t

    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        fx_t, fy_t = _force_exprs(i)
        bk = "b.k," if bond_k else ""
        # velocity-BC prescription overrides the integrated velocity
        # inside the band masks (start-of-step positions, matching the
        # kernel); kernel blocks apply in order with later writes
        # winning, so each later block wraps the chain OUTSIDE the
        # earlier ones (outermost CASE = last block = checked first)
        vx_e = f"s.vx + {fx_t} / s.m * {dt}"
        vy_e = f"s.vy + {fy_t} / s.m * {dt}"
        if vel_bcs:
            for x0, x1, y0, y1, bvx, bvy in vel_bcs:
                mask = (
                    f"s.x >= {x0!r} AND s.x <= {x1!r}"
                    f" AND s.y >= {y0!r} AND s.y <= {y1!r}"
                )
                vx_e = f"CASE WHEN {mask} THEN {bvx!r} ELSE {vx_e} END"
                vy_e = f"CASE WHEN {mask} THEN {bvy!r} ELSE {vy_e} END"
        steps.append(f""",
    d{i} AS MATERIALIZED (
      SELECT b.src, b.dst, b.rest, {bk}
             pa.x AS ax, pa.y AS ay, pb.x AS bx, pb.y AS by,
             sqrt((pb.x - pa.x) * (pb.x - pa.x)
                  + (pb.y - pa.y) * (pb.y - pa.y)) AS dist
      FROM bonds b
      JOIN s{p} pa ON b.src = pa.id
      JOIN s{p} pb ON b.dst = pb.id),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy FROM (
        SELECT src AS id,
               CASE WHEN dist > 0
                    THEN {k_use} * (dist - rest) / dist * (bx - ax)
                    ELSE 0.0 END AS fx,
               CASE WHEN dist > 0
                    THEN {k_use} * (dist - rest) / dist * (by - ay)
                    ELSE 0.0 END AS fy
        FROM d{i}
        UNION ALL
        SELECT dst AS id,
               CASE WHEN dist > 0
                    THEN -({k_use} * (dist - rest) / dist * (bx - ax))
                    ELSE 0.0 END,
               CASE WHEN dist > 0
                    THEN -({k_use} * (dist - rest) / dist * (by - ay))
                    ELSE 0.0 END
        FROM d{i})
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + ({vx_e}) * {dt} AS x,
             s.y + ({vy_e}) * {dt} AS y,
             {vx_e} AS vx,
             {vy_e} AS vy,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    if measure is None:
        tail = f"""
    SELECT id, round(x, 6) AS x, round(y, 6) AS y,
           round(vx, 6) AS vx, round(vy, 6) AS vy
    FROM s{n_steps}
    """
    else:
        cadence, m_ids = measure
        id_list = ", ".join(str(i) for i in m_ids)
        rows = [
            f"""
      SELECT CAST({i} AS BIGINT) AS step, s.id,
             round(s.x, 6) AS x, round(s.y, 6) AS y,
             round(s.vx, 6) AS vx, round(s.vy, 6) AS vy,
             round(s.x - p.x, 6) AS ux, round(s.y - p.y, 6) AS uy
      FROM s{i} s JOIN pts p ON s.id = p.id
      WHERE s.id IN ({id_list})"""
            for i in range(cadence, n_steps + 1, cadence)
        ]
        tail = "\n      UNION ALL".join(rows) + "\n"
    return head + "".join(steps) + tail


@register(
    "q64_solver_steps",
    oracle=_solver_oracle(5, "1.0", "0.01", "30.0"),
    doc="E3 solver loop analog (SURVEY §3: 4D-LSM time loop, "
    "MLS00con.dat:4-7 dT/nOutLoops semantics): bond network from the "
    "J1 grid join (rest length = 90% of initial distance -> compressed "
    "springs), then explicit-Euler steps via the halo-exchange block "
    "solver (simulation/solver.py run_solver_blocked) — fuse steps per "
    "shuffle round, NumPy kernel per block; bit-identical to the "
    "per-step relational loop (tests/test_solver.py) but ~60x its "
    "throughput and the only shape that survives the reference's "
    "500 000-step horizon. The oracle unrolls all 5 steps as a DuckDB "
    "CTE chain (bond build + force agg + integration per step), so the "
    "whole dynamics loop is hash-checked against an independent "
    "engine, not rows-only. Momentum conservation and snapshot-cadence "
    "invariants are additionally pinned in tests/test_solver.py.",
    tags=("simulation", "E3", "iterative", "scale"),
)
def q64_solver_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import run_solver_blocked

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    )
    bonds = grid_proximity_join(pts, eps=30.0, id_col="id").select(
        "src", "dst", (F.col("dist") * 0.9).alias("rest")
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        F.lit(0.0).alias("vx"),
        F.lit(0.0).alias("vy"),
        F.lit(1.0).alias("m"),
    )
    final = run_solver_blocked(
        state0, bonds, n_steps=5, k=1.0, dt=0.01, fuse=5
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
    )


def _q64_system(spark: SparkSession, sf_dir: str):
    """The shared customer-derived particle system (pts, bonds, state0)
    used by the solver query family (q64/q115/q116/q117)."""
    from columnarmodeling_spark.operators.proximity import grid_proximity_join

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    )
    bonds = grid_proximity_join(pts, eps=30.0, id_col="id").select(
        "src", "dst", (F.col("dist") * 0.9).alias("rest")
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        F.lit(0.0).alias("vx"),
        F.lit(0.0).alias("vy"),
        F.lit(1.0).alias("m"),
    )
    return pts, bonds, state0


_MEASURE_IDS = (7, 58, 103)  # present at every testdata SF


@register(
    "q115_measure_series",
    oracle=_solver_oracle(6, "1.0", "0.01", "30.0", measure=(2, _MEASURE_IDS)),
    doc="M-series measure points (the reference's MeasurePar.dat — "
    "SysFile.ini:14-15 'Measure_Points'; per-case files name 2 probe "
    "particle ids whose state items UX/UY/VX/VY append to "
    "Output/MLSOut00M.dat at the output cadence): the q64 particle "
    "system advanced 6 steps by the block solver, sampled every 2 "
    "steps; each sampled row is (step, id, position, velocity, "
    "displacement-from-initial). The probe filter is an isin over a "
    "handful of ids pushed to the state scan; the initial-position "
    "join for UX/UY broadcasts 3 rows. The oracle replays all 6 steps "
    "as a DuckDB CTE chain and unions the sampled selects, so every "
    "emitted M row is hash-checked.",
    tags=("simulation", "E3", "iterative", "measure"),
)
def q115_measure_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.simulation.solver import run_solver_blocked

    pts, bonds, state = _q64_system(spark, sf_dir)
    p0 = pts.filter(F.col("id").isin(*_MEASURE_IDS)).select(
        "id", F.col("x").alias("x0"), F.col("y").alias("y0")
    )
    cadence, n_steps = 2, 6
    rows = []
    step_now = 0
    while step_now < n_steps:
        state = run_solver_blocked(
            state, bonds, cadence, k=1.0, dt=0.01, fuse=cadence,
            step0=step_now,
        )
        step_now += cadence
        rows.append(
            state.filter(F.col("id").isin(*_MEASURE_IDS))
            .join(F.broadcast(p0), "id")
            .select(
                F.lit(step_now).cast("long").alias("step"),
                "id",
                F.round("x", 6).alias("x"),
                F.round("y", 6).alias("y"),
                F.round("vx", 6).alias("vx"),
                F.round("vy", 6).alias("vy"),
                F.round(F.col("x") - F.col("x0"), 6).alias("ux"),
                F.round(F.col("y") - F.col("y0"), 6).alias("uy"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "q116_gravity_damping",
    oracle=_solver_oracle(
        5, "1.0", "0.01", "30.0", gx="0.05", gy="-0.2", dp="0.6"
    ),
    doc="Gravity + local damping (MLS00con.dat fields Gx/Gy/Gz and Dp "
    "— the shipped uniaxial case runs Dp=0.6, which the solver applies "
    "as the standard DEM local damping f -= Dp·|f|·sign(v) per "
    "component after gravity g·m is added to the spring sum): the q64 "
    "system advanced 5 steps under (gx, gy) = (0.05, -0.2), Dp = 0.6. "
    "Both terms are per-particle-local NumPy ops inside the same "
    "cogrouped kernel — no extra shuffle, halo invariant untouched. "
    "The oracle replays the identical force order (springs → gravity "
    "→ damping → integrate) in DuckDB; per-step-vs-blocked "
    "equivalence under gravity+damping is property-tested in "
    "tests/test_solver.py.",
    tags=("simulation", "E3", "iterative"),
)
def q116_gravity_damping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.simulation.solver import run_solver_blocked

    _, bonds, state0 = _q64_system(spark, sf_dir)
    final = run_solver_blocked(
        state0, bonds, n_steps=5, k=1.0, dt=0.01, fuse=5,
        gravity=(0.05, -0.2), damping=0.6,
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
    )


_MAT_E_SQL = (
    "CASE WHEN {alias}.id % 3 = 0 THEN 1.2 "
    "WHEN {alias}.id % 3 = 1 THEN 0.6 ELSE 2.4 END"
)


@register(
    "q117_material_stiffness",
    oracle=_solver_oracle(
        5,
        "1.0",
        "0.01",
        "30.0",
        bond_k=(
            "round(2.0 * ("
            + _MAT_E_SQL.format(alias="a")
            + ") * ("
            + _MAT_E_SQL.format(alias="b")
            + ") / (("
            + _MAT_E_SQL.format(alias="a")
            + ") + ("
            + _MAT_E_SQL.format(alias="b")
            + ")), 6)"
        ),
    ),
    doc="Per-material bond stiffness (MLSMat00.dat Material_List — "
    "SysFile.ini Block_Material 'E Elastic_Modulus' per material "
    "block; every case ships a materials file): particles carry a "
    "material id (id % 3 → three blocks with E = 1.2/0.6/2.4), and "
    "each bond's stiffness is the series-spring harmonic mean "
    "2·Ea·Eb/(Ea+Eb) via solver.bond_stiffness_from_materials — a "
    "broadcast dim join for the E lookup, ordinary equi-joins on the "
    "bond endpoints, rounded to 6dp so DuckDB replays identical "
    "arithmetic. The block solver consumes the per-bond k column in "
    "place of the scalar (both kernels; the breaking variant logs it). "
    "The oracle builds the same per-bond k expression inline and "
    "replays all 5 steps.",
    tags=("simulation", "E3", "iterative", "J6"),
)
def q117_material_stiffness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.simulation.solver import (
        bond_stiffness_from_materials,
        run_solver_blocked,
    )

    pts, bonds, state0 = _q64_system(spark, sf_dir)
    pmat = pts.select("id", (F.col("id") % 3).alias("mat"))
    mats = pts.sparkSession.createDataFrame(
        [(0, 1.2), (1, 0.6), (2, 2.4)], "mat long, e_mod double"
    )
    kbonds = bond_stiffness_from_materials(bonds, pmat, mats)
    final = run_solver_blocked(
        state0, kbonds, n_steps=5, k=1.0, dt=0.01, fuse=5
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
    )


def _solver3d_oracle(
    n_steps: int,
    k: str,
    dt: str,
    eps: str,
    gz: str = "0.0",
    dp: str = "0.0",
    vel_bcs: tuple[
        tuple[float, float, float, float, float, float, float, float, float],
        ...,
    ]
    | None = None,
) -> str:
    """3D variant of _solver_oracle (z axis in bonds, forces and
    integration; gravity on z, local damping on all three components;
    *vel_bcs* = 9-tuples (x0,x1,y0,y1,z0,z1,vx,vy,vz) of velocity
    prescription boxes, last-block-outermost CASE like the 2D variant).
    Same unrolled-CTE discipline: identical IEEE expressions in the
    same association as the 3D NumPy kernel."""
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y,
             CAST(c_custkey % 53 AS DOUBLE) * 10.0 AS z
      FROM customer),
    bonds AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             0.9 * sqrt((a.x - b.x) * (a.x - b.x)
                        + (a.y - b.y) * (a.y - b.y)
                        + (a.z - b.z) * (a.z - b.z)) AS rest
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)
                 + (a.z - b.z) * (a.z - b.z)) < {eps}),
    s0 AS MATERIALIZED (
      SELECT id, x, y, z, 0.0 AS vx, 0.0 AS vy, 0.0 AS vz, 1.0 AS m
      FROM pts)"""
    ft = {}
    for c, v, g in (("fx", "vx", "0.0"), ("fy", "vy", "0.0"), ("fz", "vz", gz)):
        e = f"coalesce(f.{c}, 0.0)"
        if g != "0.0":
            e = f"({e} + {g} * s.m)"
        if dp != "0.0":
            e = f"({e} - {dp} * abs({e}) * sign(s.{v}))"
        ft[c] = e
    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        comp = []
        for sign_, who in (("", "src"), ("-", "dst")):
            comp.append(
                ",\n               ".join(
                    f"""CASE WHEN dist > 0
                    THEN {sign_}({k} * (dist - rest) / dist * ({b} - {a}))
                    ELSE 0.0 END AS f{c}"""
                    for c, a, b in (
                        ("x", "ax", "bx"), ("y", "ay", "by"), ("z", "az", "bz")
                    )
                )
            )
        v_e = {
            v: f"s.{v} + {ft[c]} / s.m * {dt}"
            for c, v in (("fx", "vx"), ("fy", "vy"), ("fz", "vz"))
        }
        if vel_bcs:
            for x0, x1, y0, y1, z0, z1, bvx, bvy, bvz in vel_bcs:
                mask = (
                    f"s.x >= {x0!r} AND s.x <= {x1!r}"
                    f" AND s.y >= {y0!r} AND s.y <= {y1!r}"
                    f" AND s.z >= {z0!r} AND s.z <= {z1!r}"
                )
                for v, bv in (("vx", bvx), ("vy", bvy), ("vz", bvz)):
                    v_e[v] = (
                        f"CASE WHEN {mask} THEN {bv!r} ELSE {v_e[v]} END"
                    )
        steps.append(f""",
    d{i} AS MATERIALIZED (
      SELECT b.src, b.dst, b.rest,
             pa.x AS ax, pa.y AS ay, pa.z AS az,
             pb.x AS bx, pb.y AS by, pb.z AS bz,
             sqrt((pb.x - pa.x) * (pb.x - pa.x)
                  + (pb.y - pa.y) * (pb.y - pa.y)
                  + (pb.z - pa.z) * (pb.z - pa.z)) AS dist
      FROM bonds b
      JOIN s{p} pa ON b.src = pa.id
      JOIN s{p} pb ON b.dst = pb.id),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy, sum(fz) AS fz FROM (
        SELECT src AS id,
               {comp[0]}
        FROM d{i}
        UNION ALL
        SELECT dst AS id,
               {comp[1]}
        FROM d{i})
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + ({v_e["vx"]}) * {dt} AS x,
             s.y + ({v_e["vy"]}) * {dt} AS y,
             s.z + ({v_e["vz"]}) * {dt} AS z,
             {v_e["vx"]} AS vx,
             {v_e["vy"]} AS vy,
             {v_e["vz"]} AS vz,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    tail = f"""
    SELECT id, round(x, 6) AS x, round(y, 6) AS y, round(z, 6) AS z,
           round(vx, 6) AS vx, round(vy, 6) AS vy, round(vz, 6) AS vz
    FROM s{n_steps}
    """
    return head + "".join(steps) + tail


def _q122_system(spark: SparkSession, sf_dir: str):
    """The customer-derived 3D particle system (state0, bonds) shared
    by the 3D solver query family (q122/q139)."""
    from columnarmodeling_spark.operators.proximity import grid_proximity_join

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
        ((F.col("c_custkey") % 53).cast("double") * 10.0).alias("z"),
    )
    cand = grid_proximity_join(
        pts.select("id", "x", "y"), eps=30.0, id_col="id"
    ).select("src", "dst")
    pa = pts.select(
        F.col("id").alias("src"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("z").alias("za"),
    )
    pb = pts.select(
        F.col("id").alias("dst"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("z").alias("zb"),
    )
    # exact 3D distance from raw deltas — the same IEEE expression as
    # the oracle's bond CTE (sqrt of the re-squared 2D dist differs by
    # ulps and could flip the eps boundary)
    d3 = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
        + (F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb"))
    )
    bonds = (
        cand.join(pa, "src")
        .join(pb, "dst")
        .withColumn("d3", d3)
        .filter(F.col("d3") < 30.0)
        .select("src", "dst", (F.lit(0.9) * F.col("d3")).alias("rest"))
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        "z",
        F.lit(0.0).alias("vx"),
        F.lit(0.0).alias("vy"),
        F.lit(0.0).alias("vz"),
        F.lit(1.0).alias("m"),
    )
    return state0, bonds



@register(
    "q122_solver3d_steps",
    oracle=_solver3d_oracle(5, "1.0", "0.01", "30.0", gz="-0.1", dp="0.4"),
    doc="3D block solver — the reference's native dimensionality "
    "(BALL3D_PSLICE.dat particles, 3-axis MLSLD00.dat range boxes, uz "
    "platen ramps; the 2D tier is the plane-strain analog): a 3D bond "
    "network (grid join on (x, y) then exact 3D distance filter — the "
    "2D cells are a superset of the 3D ball, so candidates stay "
    "bounded) advanced 5 steps by simulation/solver.py's "
    "run_solver_blocked on the 3D state (the solver reads D = 3 from "
    "its z column) with z-gravity and local damping. Blocks key "
    "on (bx, by, bz) with a 3x3x3 halo; burst steps run in ONE "
    "cogrouped NumPy kernel per round, exactly the 2D scale argument "
    "one dimension up. The oracle unrolls all 5 steps with the full "
    "3-component arithmetic; blocked-vs-per-step 3D equivalence and "
    "z free fall are property-tested in tests/test_solver3d.py.",
    tags=("simulation", "E3", "iterative", "scale", "3d"),
)
def q122_solver3d_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.simulation.solver import run_solver_blocked

    state0, bonds = _q122_system(spark, sf_dir)
    final = run_solver_blocked(
        state0, bonds, n_steps=5, k=1.0, dt=0.01, fuse=5,
        gravity=(0.0, 0.0, -0.1), damping=0.4,
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
        F.round("vz", 6).alias("vz"),
    )


def _centrifuge_g_steps(
    gy: float, curve: tuple[tuple[float, float], ...], n_steps: int, dt: float
) -> tuple[tuple[str, str], ...]:
    """Exact per-step gravity literals for the centrifuge-ramp oracle:
    the same np.interp + float product the kernel computes, embedded as
    repr() round-trip literals."""
    import numpy as np

    ct = [p[0] for p in curve]
    cv = [p[1] for p in curve]
    out = []
    for i in range(1, n_steps + 1):
        g_s = float(np.interp(i * dt, ct, cv))
        out.append(("0.0", repr(gy * g_s)))
    return tuple(out)


_CENTRIFUGE_CURVE = ((0.0, 0.0), (0.03, 1.0))


@register(
    "q119_centrifuge_ramp",
    oracle=_solver_oracle(
        5,
        "1.0",
        "0.01",
        "30.0",
        g_steps=_centrifuge_g_steps(-0.2, _CENTRIFUGE_CURVE, 5, 0.01),
    ),
    doc="Centrifuge gravity ramp (the reference's Centrifuge.dat — "
    "target g-level + spin-up time; every case folder ships one): "
    "gravity is scaled per sub-step by a piecewise-linear spin-up "
    "curve evaluated at global solver time inside the kernel (same "
    "_curve_scale as the BC load curves), here ramping 0→1 g over the "
    "first 3 of 5 steps on the q64 system. The oracle embeds each "
    "step's exact gx·scale(t) double as a repr literal in its CTE, so "
    "the whole ramped-gravity trajectory is hash-checked. Parser: "
    "sources/text_tables.read_centrifuge; closed-form ramped free "
    "fall in tests/test_solver.py.",
    tags=("simulation", "E3", "iterative"),
)
def q119_centrifuge_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.simulation.solver import run_solver_blocked

    _, bonds, state0 = _q64_system(spark, sf_dir)
    final = run_solver_blocked(
        state0, bonds, n_steps=5, k=1.0, dt=0.01, fuse=5,
        gravity=(0.0, -0.2), gravity_curve=_CENTRIFUGE_CURVE,
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
    )


_JOINTS_2D = (
    (1, 505.3, -100.0, 505.3, 2500.0),  # vertical joint plane
    (2, -1000.0, 1210.7, 10000.0, 1210.7),  # horizontal joint plane
)


@register(
    "q118_joint_weakening",
    oracle=f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y
      FROM customer),
    bonds AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) < 30.0),
    joints AS (
      SELECT * FROM (VALUES {", ".join(f"({j[0]}, {j[1]}, {j[2]}, {j[3]}, {j[4]})" for j in _JOINTS_2D)})
        AS t(joint_id, jx1, jy1, jx2, jy2))
    SELECT src, dst, crossed,
           CASE WHEN crossed THEN 0.05 ELSE 1.0 END AS k_eff,
           CASE WHEN crossed THEN 0.01 ELSE 0.1 END AS strength_eff
    FROM (
      SELECT src, dst,
             EXISTS (
               SELECT 1 FROM joints j
               WHERE ((j.jx2 - j.jx1) * (e.ay - j.jy1)
                      - (j.jy2 - j.jy1) * (e.ax - j.jx1))
                     * ((j.jx2 - j.jx1) * (e.by - j.jy1)
                        - (j.jy2 - j.jy1) * (e.bx - j.jx1)) < 0
                 AND ((e.bx - e.ax) * (j.jy1 - e.ay)
                      - (e.by - e.ay) * (j.jx1 - e.ax))
                     * ((e.bx - e.ax) * (j.jy2 - e.ay)
                        - (e.by - e.ay) * (j.jx2 - e.ax)) < 0
             ) AS crossed
      FROM bonds e)
    """,
    doc="Joint (discontinuity) weakening — the 4D-LSM 'Belt' feature "
    "(MLSJDat.dat: flag + facet count + triangulated joint surface; "
    "MLSJMat.dat: joint material with its own stiffness/strength; "
    "bonds crossing the joint take the joint material, which localizes "
    "failure on the discontinuity): bonds from the q64 gap join are "
    "tested for PROPER segment crossing against two joint planes via "
    "the orientation predicate (cross-product sign pairs, strict "
    "inequalities — endpoint-on-joint degeneracies deterministically "
    "not crossed), implemented as a broadcast nested-loop join of the "
    "O(10) joint table in operators/joints.py; crossed bonds take the "
    "joint k/strength via apply_joint_material. The oracle replays the "
    "identical orientation arithmetic as an EXISTS predicate. Failure "
    "localization on the joint is additionally tested in "
    "tests/test_solver.py.",
    tags=("simulation", "E3", "J7", "geometry"),
)
def q118_joint_weakening(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.joints import (
        apply_joint_material,
        joint_crossings,
    )

    pts, bonds, _ = _q64_system(spark, sf_dir)
    joints = spark.createDataFrame(
        list(_JOINTS_2D),
        "joint_id long, jx1 double, jy1 double, jx2 double, jy2 double",
    )
    base = bonds.select(
        "src",
        "dst",
        F.lit(1.0).alias("k"),
        F.lit(0.1).alias("strength"),
    )
    flagged = joint_crossings(base, pts, joints)
    out = apply_joint_material(flagged, k_joint=0.05, strength_joint=0.01)
    return out.select(
        "src",
        "dst",
        "crossed",
        F.col("k").alias("k_eff"),
        F.col("strength").alias("strength_eff"),
    )


def _breaking_oracle(n_steps: int, k: str, dt: str, eps: str, limit: str) -> str:
    """Unroll n_steps Euler steps WITH strain-threshold bond removal as a
    DuckDB CTE chain (same pattern as _solver_oracle; the bond set is now
    a per-step CTE because breaks change the force network). A bond whose
    ``(dist-rest)/rest`` exceeds the limit at the top of step i appears
    in br{i} and is excluded from that step's forces onward — exactly the
    kernel's rule. Threshold margins were measured at >=4.9e-4 strain for
    these constants (tools-level sweep), vs ~1e-12 cross-engine noise, so
    break steps cannot flip between engines."""
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y
      FROM customer),
    b0 AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             (0.85 + 0.1 * CAST((a.id + b.id) % 4 AS DOUBLE))
               * sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)) AS rest
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) < {eps}),
    s0 AS MATERIALIZED (
      SELECT id, x, y,
             CAST(id % 3 - 1 AS DOUBLE) * 8.0 AS vx,
             CAST(id % 5 - 2 AS DOUBLE) * 4.0 AS vy,
             1.0 AS m
      FROM pts)"""
    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        steps.append(f""",
    d{i} AS MATERIALIZED (
      SELECT b.src, b.dst, b.rest,
             pa.x AS ax, pa.y AS ay, pb.x AS bx, pb.y AS by,
             sqrt((pb.x - pa.x) * (pb.x - pa.x)
                  + (pb.y - pa.y) * (pb.y - pa.y)) AS dist
      FROM b{p} b
      JOIN s{p} pa ON b.src = pa.id
      JOIN s{p} pb ON b.dst = pb.id),
    br{i} AS MATERIALIZED (
      SELECT src, dst, rest FROM d{i}
      WHERE dist - rest > {limit} * rest),
    b{i} AS MATERIALIZED (
      SELECT src, dst, rest FROM d{i}
      WHERE NOT (dist - rest > {limit} * rest)),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy FROM (
        SELECT src AS id,
               CASE WHEN dist > 0
                    THEN {k} * (dist - rest) / dist * (bx - ax)
                    ELSE 0.0 END AS fx,
               CASE WHEN dist > 0
                    THEN {k} * (dist - rest) / dist * (by - ay)
                    ELSE 0.0 END AS fy
        FROM d{i} WHERE NOT (dist - rest > {limit} * rest)
        UNION ALL
        SELECT dst AS id,
               CASE WHEN dist > 0
                    THEN -({k} * (dist - rest) / dist * (bx - ax))
                    ELSE 0.0 END,
               CASE WHEN dist > 0
                    THEN -({k} * (dist - rest) / dist * (by - ay))
                    ELSE 0.0 END
        FROM d{i} WHERE NOT (dist - rest > {limit} * rest))
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + (s.vx + coalesce(f.fx, 0.0) / s.m * {dt}) * {dt} AS x,
             s.y + (s.vy + coalesce(f.fy, 0.0) / s.m * {dt}) * {dt} AS y,
             s.vx + coalesce(f.fx, 0.0) / s.m * {dt} AS vx,
             s.vy + coalesce(f.fy, 0.0) / s.m * {dt} AS vy,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    series = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({i} AS BIGINT) AS step,
           (SELECT count(*) FROM br{i}) AS n_broken,
           (SELECT count(*) FROM b{i}) AS n_alive,
           round(CAST((SELECT count(*) FROM b0)
                      - (SELECT count(*) FROM b{i}) AS DOUBLE)
                 / (SELECT count(*) FROM b0), 6) AS broken_ratio"""
        for i in range(1, n_steps + 1)
    )
    return head + "".join(steps) + "\n" + series


def _weibull_oracle(
    n_steps: int, k: str, dt: str, eps: str, m: float, sigma0: str, salt: str
) -> str:
    """Unroll n_steps Euler steps with PER-BOND Weibull strengths as a
    DuckDB CTE chain (the _breaking_oracle pattern with the scalar limit
    replaced by a strength column carried through every bond CTE). The
    strength draw replays the engine's exact arithmetic: md5-prefix
    uniform of (src, dst, salt) — the minhash tier's 60-bit idiom —
    through the Weibull inverse CDF, rounded to 4dp so libm noise can't
    flip a break. Output is the bond-level break log (src, dst,
    strength, break_step), i.e., the full fracture sequence."""
    inv_m = repr(1.0 / float(m))
    strength = (
        f"round({sigma0} * pow(-ln(1.0 - "
        f"CAST(CAST(('0x' || substr(md5(CAST(a.id AS VARCHAR) || '#' || "
        f"CAST(b.id AS VARCHAR) || '#{salt}'), 1, 15)) AS BIGINT) "
        f"% 2147483647 AS DOUBLE) / 2147483647.0), {inv_m}), 4)"
    )
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y
      FROM customer),
    b0 AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             (0.85 + 0.1 * CAST((a.id + b.id) % 4 AS DOUBLE))
               * sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)) AS rest,
             {strength} AS strength
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) < {eps}),
    s0 AS MATERIALIZED (
      SELECT id, x, y,
             CAST(id % 3 - 1 AS DOUBLE) * 8.0 AS vx,
             CAST(id % 5 - 2 AS DOUBLE) * 4.0 AS vy,
             1.0 AS m
      FROM pts)"""
    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        steps.append(f""",
    d{i} AS MATERIALIZED (
      SELECT b.src, b.dst, b.rest, b.strength,
             pa.x AS ax, pa.y AS ay, pb.x AS bx, pb.y AS by,
             sqrt((pb.x - pa.x) * (pb.x - pa.x)
                  + (pb.y - pa.y) * (pb.y - pa.y)) AS dist
      FROM b{p} b
      JOIN s{p} pa ON b.src = pa.id
      JOIN s{p} pb ON b.dst = pb.id),
    br{i} AS MATERIALIZED (
      SELECT src, dst, rest, strength FROM d{i}
      WHERE dist - rest > strength * rest),
    b{i} AS MATERIALIZED (
      SELECT src, dst, rest, strength FROM d{i}
      WHERE NOT (dist - rest > strength * rest)),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy FROM (
        SELECT src AS id,
               CASE WHEN dist > 0
                    THEN {k} * (dist - rest) / dist * (bx - ax)
                    ELSE 0.0 END AS fx,
               CASE WHEN dist > 0
                    THEN {k} * (dist - rest) / dist * (by - ay)
                    ELSE 0.0 END AS fy
        FROM d{i} WHERE NOT (dist - rest > strength * rest)
        UNION ALL
        SELECT dst AS id,
               CASE WHEN dist > 0
                    THEN -({k} * (dist - rest) / dist * (bx - ax))
                    ELSE 0.0 END,
               CASE WHEN dist > 0
                    THEN -({k} * (dist - rest) / dist * (by - ay))
                    ELSE 0.0 END
        FROM d{i} WHERE NOT (dist - rest > strength * rest))
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + (s.vx + coalesce(f.fx, 0.0) / s.m * {dt}) * {dt} AS x,
             s.y + (s.vy + coalesce(f.fy, 0.0) / s.m * {dt}) * {dt} AS y,
             s.vx + coalesce(f.fx, 0.0) / s.m * {dt} AS vx,
             s.vy + coalesce(f.fy, 0.0) / s.m * {dt} AS vy,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    log = "\n    UNION ALL\n".join(
        f"    SELECT src, dst, strength, CAST({i} AS BIGINT) AS break_step"
        f" FROM br{i}"
        for i in range(1, n_steps + 1)
    )
    tail = f"""
{log}
    UNION ALL
    SELECT src, dst, strength, CAST(-1 AS BIGINT) AS break_step FROM b{n_steps}
    """
    return head + "".join(steps) + "\n" + tail


@register(
    "q112_weibull_breaks",
    oracle=_weibull_oracle(8, "1.0", "0.05", "30.0", 3.0, "0.12", "q112"),
    doc="Weibull per-bond strength fracture (Webull.dat:1 — the "
    "reference parameterizes per-bond strength; a homogeneous limit "
    "changes fracture localization qualitatively): the q107 particle "
    "system, but every bond draws its own strain limit from "
    "Weibull(m=3, sigma0=0.12) via solver.weibull_strengths — an "
    "md5-prefix uniform of (src, dst, salt) through the inverse CDF, "
    "deterministic across engines and task retries. The breaking block "
    "solver consumes the strength column in place of the scalar limit "
    "and logs the full fracture sequence; the oracle replays all 8 "
    "steps in DuckDB with the identical strength arithmetic, so the "
    "bond-level break log (who broke, at which step, at what strength) "
    "is hash-checked end-to-end. Weibull-vs-homogeneous divergence and "
    "determinism are additionally pinned in tests/test_solver.py.",
    tags=("simulation", "E3", "A8", "iterative", "scale"),
)
def q112_weibull_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
        weibull_strengths,
    )

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    )
    bonds = grid_proximity_join(pts, eps=30.0, id_col="id").select(
        "src",
        "dst",
        (
            (0.85 + 0.1 * ((F.col("src") + F.col("dst")) % 4).cast("double"))
            * F.col("dist")
        ).alias("rest"),
    )
    bonds = weibull_strengths(bonds, m=3.0, sigma0=0.12, salt="q112")
    state0 = pts.select(
        "id",
        "x",
        "y",
        ((F.col("id") % 3 - 1).cast("double") * 8.0).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 4.0).alias("vy"),
        F.lit(1.0).alias("m"),
    )
    n_steps = 8
    _, bond_log = run_solver_blocked_breaking(
        state0, bonds, n_steps=n_steps, strain_limit=None, k=1.0, dt=0.05,
        fuse=n_steps,
    )
    return bond_log.select("src", "dst", "strength", "break_step")


@register(
    "q111_load_curves",
    oracle="""
    WITH curve AS (
      SELECT o_orderpriority AS curve_id,
             CAST(day(o_orderdate) AS DOUBLE) AS t,
             round(avg(o_totalprice), 4) AS v
      FROM orders
      WHERE day(o_orderdate) % 4 = 1
        AND day(o_orderdate) BETWEEN 5 AND 25
      GROUP BY 1, 2),
    probes AS (
      SELECT DISTINCT o_orderpriority AS curve_id,
             CAST(day(o_orderdate) AS DOUBLE) AS t
      FROM orders),
    u AS (
      SELECT curve_id, t, 0 AS kind, t AS ct, v FROM curve
      UNION ALL
      SELECT curve_id, t, 1, NULL, NULL FROM probes),
    w AS (
      SELECT curve_id, t, kind,
             last_value(ct IGNORE NULLS) OVER w_back AS t0,
             last_value(v IGNORE NULLS) OVER w_back AS v0,
             first_value(ct IGNORE NULLS) OVER w_fwd AS t1,
             first_value(v IGNORE NULLS) OVER w_fwd AS v1
      FROM u
      WINDOW
        w_back AS (PARTITION BY curve_id ORDER BY t, kind
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY curve_id ORDER BY t, kind
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT curve_id, t, value,
           round(-20.0 * value, 4) AS applied_vy
    FROM (
      SELECT curve_id, t,
             round(CASE WHEN t0 IS NULL THEN v1
                        WHEN t1 IS NULL THEN v0
                        WHEN t1 = t0 THEN v0
                        ELSE v0 + (v1 - v0) * (t - t0) / (t1 - t0)
                   END, 6) AS value
      FROM w WHERE kind = 1)
    WHERE value IS NOT NULL
    """,
    doc="Time-varying load-curve BC evaluation (the reference's "
    "Load_Data field, present in every MLSLD00.dat BC block — "
    "SysFile.ini:94,117,140,163 'Apply_the_loading_curve'; the shipped "
    "uniaxial case ramps its -20-valued top-platen velocity as "
    "uz = -20·t). Curve control points (one sparse piecewise-linear "
    "curve per order priority, built from odd days 5-25) are evaluated "
    "at every probe day via operators/load_curves.interpolate_curves — "
    "a single union + one window sort per curve, NO range join; probes "
    "outside the curve domain clamp to the endpoints (days 1-4 forward, "
    "26+ backward), the solver's hold-last-value convention. applied_vy "
    "is the resulting platen velocity at the reference's -20 base "
    "value. The oracle replays the identical union-window plan in "
    "DuckDB, so interpolation AND both clamp branches are hash-checked. "
    "The same curve semantics drive the in-kernel np.interp BC path "
    "(simulation/solver.py BoundaryCondition; E-series ramp test in "
    "tests/test_experiment.py).",
    tags=("simulation", "window", "asof", "E3", "P2"),
)
def q111_load_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    dom = F.dayofmonth("o_orderdate")
    curves = (
        o.filter((dom % 4 == 1) & dom.between(5, 25))
        .groupBy(
            F.col("o_orderpriority").alias("curve_id"),
            dom.cast("double").alias("t"),
        )
        .agg(F.round(F.avg("o_totalprice"), 4).alias("v"))
    )
    probes = o.select(
        F.col("o_orderpriority").alias("curve_id"),
        dom.cast("double").alias("t"),
    ).distinct()
    out = interpolate_curves(curves, probes)
    return out.select(
        "curve_id",
        "t",
        "value",
        F.round(F.lit(-20.0) * F.col("value"), 4).alias("applied_vy"),
    )


@register(
    "q107_bond_breaks",
    oracle=_breaking_oracle(8, "1.0", "0.05", "30.0", "0.12"),
    doc="E3 damage series (SURVEY §2.4 A8: the reference's broken-bond "
    "curve, Output/MLSOut00B.dat — SysFile.ini documents the B-file as "
    "the damage output): the q64 particle system, heterogeneous rest "
    "factors and seeded velocities, advanced 8 steps by the breaking "
    "block solver (simulation/solver.py run_solver_blocked_breaking). "
    "Bonds fail when strain exceeds the limit; failures persist across "
    "halo-exchange rounds; the emitted per-step break counts form the "
    "damage curve. The oracle replays all 8 steps with per-step alive "
    "bond CTEs in DuckDB, so the full break dynamics are hash-checked "
    "against an independent engine. Monotone-damage and multi-round "
    "equivalence are additionally property-tested in "
    "tests/test_solver.py.",
    tags=("simulation", "E3", "A8", "iterative", "scale"),
)
def q107_bond_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    )
    bonds = grid_proximity_join(pts, eps=30.0, id_col="id").select(
        "src",
        "dst",
        (
            (0.85 + 0.1 * ((F.col("src") + F.col("dst")) % 4).cast("double"))
            * F.col("dist")
        ).alias("rest"),
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        ((F.col("id") % 3 - 1).cast("double") * 8.0).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 4.0).alias("vy"),
        F.lit(1.0).alias("m"),
    )
    n_steps = 8
    _, bond_log = run_solver_blocked_breaking(
        state0, bonds, n_steps=n_steps, strain_limit=0.12, k=1.0, dt=0.05,
        fuse=n_steps,
    )
    total = bond_log.count()
    per_step = bond_log.filter("break_step > 0").groupBy("break_step").agg(
        F.count("*").alias("n_broken")
    )
    steps = spark.range(1, n_steps + 1).select(F.col("id").alias("step"))
    w = W.orderBy("step").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        steps.join(
            per_step.withColumnRenamed("break_step", "step"), "step", "left"
        )
        .withColumn("n_broken", F.coalesce("n_broken", F.lit(0)))
        .withColumn("cum", F.sum("n_broken").over(w))
        .select(
            "step",
            "n_broken",
            (F.lit(total) - F.col("cum")).alias("n_alive"),
            F.round(F.col("cum").cast("double") / total, 6).alias(
                "broken_ratio"
            ),
        )
    )


# --- the remaining shipped experiment configurations -----------------------
#
# The reference ships four canonical cases (README.md:16-22):
# UniaxialCompressionTest (2 BCs: bottom clamp + driven top platen —
# modeled by the experiment/E-series tier and q111's ramp), Biaxial
# (4 BCs), TrueTriaxial (6 BCs, 3D) and BrazilSplit (disc specimen,
# diametral platens). q138-q140 replay those BC programs through the
# same block kernels, each hash-checked by an unrolled oracle with the
# velocity-prescription CASE chain.

_BIG = 1.0e18  # finite "unbounded" box edge, identical on both engines

# MLSLD00.dat-shaped blocks (x0, x1, y0, y1, vx, vy), applied in file
# order — later blocks overwrite earlier ones where bands overlap,
# exactly the kernel's write order (the oracle nests its CASEs reversed)
_BIAXIAL_BCS = (
    (-_BIG, _BIG, -_BIG, 100.0, 0.0, 0.0),     # bottom clamp
    (-_BIG, _BIG, 2300.0, _BIG, 0.0, -5.0),    # driven top platen
    (-_BIG, -900.0, -_BIG, _BIG, 4.0, 0.0),    # left confinement
    (9900.0, _BIG, -_BIG, _BIG, -4.0, 0.0),    # right confinement
)


@register(
    "q138_biaxial_bcs",
    oracle=_solver_oracle(5, "1.0", "0.01", "30.0", vel_bcs=_BIAXIAL_BCS),
    doc="Biaxial compression BC program (BiaxialCompressionTest/"
    "MLSLD00.dat: FOUR velocity blocks — bottom clamp, driven top "
    "platen, and two lateral confinement bands; the uniaxial case has "
    "only the first two): the q64 system advanced 5 steps with the "
    "4-block program prescribed in the kernel's velocity-BC stage "
    "(simulation/solver.py _apply_bcs — masks on "
    "start-of-step positions, blocks applied in file order with "
    "later writes winning at band overlaps). Per-particle prescription "
    "is local NumPy masking inside the same cogrouped kernel: no "
    "extra shuffle, halo invariant untouched. The oracle replays the "
    "identical program as a last-block-outermost CASE chain over the same "
    "band literals, so the full 4-band dynamics are hash-checked.",
    tags=("simulation", "E3", "P2", "iterative"),
)
def q138_biaxial_bcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.simulation.solver import (
        BoundaryCondition,
        run_solver_blocked,
    )

    _, bonds, state0 = _q64_system(spark, sf_dir)
    bcs = tuple(
        BoundaryCondition(x0=x0, x1=x1, y0=y0, y1=y1, vx=vx, vy=vy)
        for x0, x1, y0, y1, vx, vy in _BIAXIAL_BCS
    )
    final = run_solver_blocked(
        state0, bonds, n_steps=5, k=1.0, dt=0.01, fuse=5, bcs=bcs
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
    )


# (x0, x1, y0, y1, z0, z1, vx, vy, vz): the TrueTriaxial 6-face program
_TRIAXIAL_BCS = (
    (-_BIG, _BIG, -_BIG, _BIG, -_BIG, 20.0, 0.0, 0.0, 0.0),   # z clamp
    (-_BIG, _BIG, -_BIG, _BIG, 500.0, _BIG, 0.0, 0.0, -4.0),  # z platen
    (-_BIG, -900.0, -_BIG, _BIG, -_BIG, _BIG, 3.0, 0.0, 0.0),  # x left
    (9900.0, _BIG, -_BIG, _BIG, -_BIG, _BIG, -3.0, 0.0, 0.0),  # x right
    (-_BIG, _BIG, -_BIG, 100.0, -_BIG, _BIG, 0.0, 2.0, 0.0),   # y front
    (-_BIG, _BIG, 2300.0, _BIG, -_BIG, _BIG, 0.0, -2.0, 0.0),  # y back
)


@register(
    "q139_triaxial_bcs",
    oracle=_solver3d_oracle(5, "1.0", "0.01", "30.0", vel_bcs=_TRIAXIAL_BCS),
    doc="True-triaxial BC program (TrueTriaxialCompressionTest/"
    "MLSLD00.dat: SIX velocity blocks — independent loading on all "
    "three axes, the reference's most general case): the q122 3D "
    "system advanced 5 steps with a z clamp, a driven z platen, and "
    "four lateral faces each prescribing its own axis, through "
    "the block kernel's velocity-BC stage (full 3-axis range boxes, "
    "_apply_bcs). The oracle unrolls the 3-component arithmetic with "
    "the six bands as a last-block-outermost CASE chain — all face programs "
    "hash-checked in one query.",
    tags=("simulation", "E3", "P2", "iterative", "3d"),
)
def q139_triaxial_bcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.simulation.solver import (
        BoundaryCondition,
        run_solver_blocked,
    )

    state0, bonds = _q122_system(spark, sf_dir)
    bcs = tuple(
        BoundaryCondition(
            x0=x0, x1=x1, y0=y0, y1=y1, z0=z0, z1=z1, vx=vx, vy=vy, vz=vz
        )
        for x0, x1, y0, y1, z0, z1, vx, vy, vz in _TRIAXIAL_BCS
    )
    final = run_solver_blocked(
        state0, bonds, n_steps=5, k=1.0, dt=0.01, fuse=5, bcs=bcs
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
        F.round("vz", 6).alias("vz"),
    )


_DISC_SQL = (
    "(x - 4500.0) * (x - 4500.0) + (y - 1200.0) * (y - 1200.0)"
    " <= 1440000.0"
)
_BRAZIL_BCS = (
    (-_BIG, _BIG, -_BIG, 100.0, 0.0, 0.0),    # bottom line support
    (-_BIG, _BIG, 2300.0, _BIG, 0.0, -5.0),   # diametral loading strip
)


@register(
    "q140_brazil_disc",
    oracle=_solver_oracle(
        5, "1.0", "0.01", "30.0", vel_bcs=_BRAZIL_BCS, pts_where=_DISC_SQL
    ),
    doc="Brazil-split configuration (BrazilSplitTest: a disc specimen "
    "loaded across a diameter — the shipped case's cylindrical "
    "specimen in the 2D cross-section the 2D tier models): the "
    "customer point cloud is first cut to a radius-1200 disc (the "
    "specimen-shape boolean cut of SURVEY §2.3 J7, here a closed-form "
    "circle predicate pushed to the scan on BOTH engines), the bond "
    "network is rebuilt inside the disc, and 5 steps run with the "
    "two-block diametral program (bottom line support + driven "
    "loading strip). Specimen geometry changes which bonds EXIST — "
    "the indirect-tension stress path — so the disc cut participates "
    "in the replay, not just the BC program.",
    tags=("simulation", "E3", "J7", "P2", "iterative"),
)
def q140_brazil_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import (
        BoundaryCondition,
        run_solver_blocked,
    )

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    ).filter(F.expr(_DISC_SQL))
    bonds = grid_proximity_join(pts, eps=30.0, id_col="id").select(
        "src", "dst", (F.col("dist") * 0.9).alias("rest")
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        F.lit(0.0).alias("vx"),
        F.lit(0.0).alias("vy"),
        F.lit(1.0).alias("m"),
    )
    bcs = tuple(
        BoundaryCondition(x0=x0, x1=x1, y0=y0, y1=y1, vx=vx, vy=vy)
        for x0, x1, y0, y1, vx, vy in _BRAZIL_BCS
    )
    final = run_solver_blocked(
        state0, bonds, n_steps=5, k=1.0, dt=0.01, fuse=5, bcs=bcs
    )
    return final.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("vx", 6).alias("vx"),
        F.round("vy", 6).alias("vy"),
    )


# --- q192: pluggable constitutive bond model (the UDM.dll analog) ---------

_SOFT_EPS_Y = 0.12  # yield strain (eps_u = 2 * eps_y by the law's shape)


def _softening_oracle(
    n_steps: int, k: str, dt: str, eps: str, eps_y: float
) -> str:
    """Unroll n_steps Euler steps with the BILINEAR SOFTENING law
    (simulation/solver.bilinear_softening_law) as a DuckDB CTE chain —
    the _breaking_oracle pattern extended with the per-bond damage
    state ``u`` (max historical strain) carried through every bond CTE.
    Per step: strain -> new_max = greatest(u, strain); a bond with
    new_max >= eps_u breaks now (br{i}, u frozen at its break value);
    survivors (b{i}) carry u = new_max; live forces scale by the
    damaged-secant factor ``eff`` (1 inside yield, the decaying
    capacity secant in the softening band, 1 in compression) — every
    expression in the exact association the NumPy law uses, so the
    engines agree to summation-order noise absorbed by the integer
    micro-unit output quantization. eps_u - eps_y == eps_y exactly in
    IEEE (2s - s is Sterbenz-exact), so the embedded literals match the
    kernel's runtime arithmetic bit-for-bit. Strain mirrors the
    kernel's ``np.where(rest > 0, ...)`` guard (CASE WHEN rest > 0):
    coincident points (rest = 0, possible via duplicate
    (c_acctbal, c_custkey % 97) pairs at larger SFs) would otherwise
    produce 0/0 = NaN here while the kernel reports 0 strain."""
    eps_u = repr(2.0 * eps_y)
    ey = repr(eps_y)
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y
      FROM customer),
    b0 AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             (0.85 + 0.1 * CAST((a.id + b.id) % 4 AS DOUBLE))
               * sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)) AS rest,
             0.0 AS u
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) < {eps}),
    s0 AS MATERIALIZED (
      SELECT id, x, y,
             CAST(id % 3 - 1 AS DOUBLE) * 8.0 AS vx,
             CAST(id % 5 - 2 AS DOUBLE) * 4.0 AS vy,
             1.0 AS m
      FROM pts)"""
    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        steps.append(f""",
    e{i} AS MATERIALIZED (
      SELECT src, dst, rest, ax, ay, bx, by, dist,
             CASE WHEN rest > 0 THEN (dist - rest) / rest
                  ELSE 0.0 END AS strain,
             greatest(u, CASE WHEN rest > 0 THEN (dist - rest) / rest
                              ELSE 0.0 END) AS new_max
      FROM (
        SELECT b.src, b.dst, b.rest, b.u,
               pa.x AS ax, pa.y AS ay, pb.x AS bx, pb.y AS by,
               sqrt((pb.x - pa.x) * (pb.x - pa.x)
                    + (pb.y - pa.y) * (pb.y - pa.y)) AS dist
        FROM b{p} b
        JOIN s{p} pa ON b.src = pa.id
        JOIN s{p} pb ON b.dst = pb.id)),
    br{i} AS MATERIALIZED (
      SELECT src, dst, rest, new_max AS u FROM e{i}
      WHERE new_max >= {eps_u}),
    b{i} AS MATERIALIZED (
      SELECT src, dst, rest, new_max AS u FROM e{i}
      WHERE NOT (new_max >= {eps_u})),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy FROM (
        SELECT src AS id,
               CASE WHEN dist > 0
                    THEN eff * {k} * (dist - rest) / dist * (bx - ax)
                    ELSE 0.0 END AS fx,
               CASE WHEN dist > 0
                    THEN eff * {k} * (dist - rest) / dist * (by - ay)
                    ELSE 0.0 END AS fy
        FROM (
          SELECT *,
                 CASE WHEN strain > 0 THEN
                   CASE WHEN new_max <= {ey} THEN 1.0
                        WHEN new_max < {eps_u}
                        THEN ({eps_u} - new_max) / {ey} * {ey}
                             / greatest(new_max, 1e-300)
                        ELSE 0.0 END
                 ELSE 1.0 END AS eff
          FROM e{i} WHERE NOT (new_max >= {eps_u}))
        UNION ALL
        SELECT dst AS id,
               CASE WHEN dist > 0
                    THEN -(eff * {k} * (dist - rest) / dist * (bx - ax))
                    ELSE 0.0 END,
               CASE WHEN dist > 0
                    THEN -(eff * {k} * (dist - rest) / dist * (by - ay))
                    ELSE 0.0 END
        FROM (
          SELECT *,
                 CASE WHEN strain > 0 THEN
                   CASE WHEN new_max <= {ey} THEN 1.0
                        WHEN new_max < {eps_u}
                        THEN ({eps_u} - new_max) / {ey} * {ey}
                             / greatest(new_max, 1e-300)
                        ELSE 0.0 END
                 ELSE 1.0 END AS eff
          FROM e{i} WHERE NOT (new_max >= {eps_u})))
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + (s.vx + coalesce(f.fx, 0.0) / s.m * {dt}) * {dt} AS x,
             s.y + (s.vy + coalesce(f.fy, 0.0) / s.m * {dt}) * {dt} AS y,
             s.vx + coalesce(f.fx, 0.0) / s.m * {dt} AS vx,
             s.vy + coalesce(f.fy, 0.0) / s.m * {dt} AS vy,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    broken = "\n    UNION ALL\n".join(
        f"""    SELECT src, dst, CAST({i} AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS damage_micro
    FROM br{i}"""
        for i in range(1, n_steps + 1)
    )
    tail = f"""
    SELECT src, dst, CAST(-1 AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS damage_micro
    FROM b{n_steps}
    UNION ALL
{broken}
    """
    return head + "".join(steps) + tail


@register(
    "q192_softening_bonds",
    oracle=_softening_oracle(8, "1.0", "0.05", "30.0", _SOFT_EPS_Y),
    doc="Pluggable constitutive bond model — the engine analog of the "
    "reference's ONE extension point, UDM.dll ('User Defined Model', "
    "UniaxialCompressionTest/UDM.dll, loaded beside the exe; SURVEY "
    "§2.9): run_solver_blocked_breaking accepts a vectorized per-bond "
    "law `law(dist, rest, k, strength, ustate, alive) -> (mag, "
    "just_broke, new_ustate)` in place of the built-in spring update, "
    "with a persistent per-bond scalar state column (`ustate`) carried "
    "across sub-steps AND halo-exchange shuffle rounds. This query "
    "replays the q107 damage scenario under the shipped example UDM — "
    "a bilinear cohesive softening law with IRREVERSIBLE damage "
    "memory (ustate = max historical strain; elastic to eps_y, linear "
    "capacity decay to eps_u = 2*eps_y, unloading along the damaged "
    "secant, break at eps_u) — over TWO fuse=4 bursts, so the state "
    "column provably survives the shuffle-round boundary. Output is "
    "the per-bond terminal record (break step + damage in integer "
    "micro-strain), hash-checked against a DuckDB oracle that unrolls "
    "all 8 steps with the damage state threaded through every bond "
    "CTE in the kernel's exact IEEE association. The default laws "
    "(linear_spring[_breaking]_law) reproduce the pre-pluggable "
    "kernels bit-identically — regression-pinned in "
    "tests/test_solver.py.",
    tags=("simulation", "E3", "udm", "constitutive", "iterative", "scale"),
)
def q192_softening_bonds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import (
        bilinear_softening_law,
        run_solver_blocked_breaking,
    )

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    )
    bonds = grid_proximity_join(pts, eps=30.0, id_col="id").select(
        "src",
        "dst",
        (
            (0.85 + 0.1 * ((F.col("src") + F.col("dst")) % 4).cast("double"))
            * F.col("dist")
        ).alias("rest"),
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        ((F.col("id") % 3 - 1).cast("double") * 8.0).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 4.0).alias("vy"),
        F.lit(1.0).alias("m"),
    )
    # reach covers the law's maximum live bond length: a bond survives
    # to strain < eps_u = 2*eps_y, so dist < (1 + 2*eps_y) * max rest
    # (rest <= 1.15 * eps = 34.5), with the usual 1.05 margin
    reach = 1.05 * (1.0 + 2.0 * _SOFT_EPS_Y) * 34.5
    _, bond_log = run_solver_blocked_breaking(
        state0,
        bonds,
        n_steps=8,
        strain_limit=_SOFT_EPS_Y,
        k=1.0,
        dt=0.05,
        fuse=4,
        reach=reach,
        bond_law=bilinear_softening_law,
    )
    return bond_log.select(
        "src",
        "dst",
        "break_step",
        F.round(F.col("ustate") * 1000000.0)
        .cast("long")
        .alias("damage_micro"),
    )


# --- q205: a SECOND user-shaped law through the same hook ------------------

_KV_DT = 0.05
_KV_ETA = 0.3
_KV_EPS_B = 0.18  # break strain


def _kelvin_voigt_law(dt: float, eta: float):
    """Factory for a rate-dependent (Kelvin–Voigt viscoelastic) bond
    law — the second, deliberately DIFFERENT user model through the
    ``force_law`` hook (``simulation/solver.py:448`` contract). Where
    the shipped ``bilinear_softening_law`` uses ``ustate`` as damage
    memory, this law repurposes the same persistent slot as the
    PREVIOUS bond length, turning it into a finite-difference strain
    rate: ``f = k·(dist−rest) + η·(dist−prev)/dt`` (spring + dashpot
    in parallel), with the default brittle break test. ``ustate = 0``
    is the no-history sentinel (first evaluation ⇒ zero rate); the law
    closes over *dt* and *η*, showing user parameters need no engine
    changes. Pure and element-wise, so halo replicas stay in lockstep
    (the hook's only contract)."""

    def law(dist, rest, k, strength, ustate, alive):
        import numpy as np

        rate = np.where(ustate > 0, (dist - ustate) / dt, 0.0)
        just_broke = alive & (dist - rest > strength * rest)
        live = alive & ~just_broke
        with np.errstate(invalid="ignore", divide="ignore"):
            mag = np.where(
                live & (dist > 0),
                (k * (dist - rest) + eta * rate) / dist,
                0.0,
            )
        return mag, just_broke, np.where(alive, dist, ustate)

    return law


def _kelvin_voigt_oracle(
    n_steps: int, k: str, dt: str, eps: str, eta: float, eps_b: float
) -> str:
    """Unroll n_steps Euler steps of the Kelvin–Voigt law as a DuckDB
    CTE chain — the _softening_oracle pattern with ``u`` carrying the
    PREVIOUS bond length instead of damage. Per step: rate =
    (dist − u)/dt when u > 0 else 0 (the kernel's no-history
    sentinel); a live bond with dist − rest > eps_b·rest breaks now
    (u frozen at its final observed length); survivor forces are
    (k·(dist−rest) + η·rate)/dist · (b−a) in the kernel's exact IEEE
    association."""
    eta_l = repr(eta)
    eb = repr(eps_b)
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y
      FROM customer),
    b0 AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             (0.85 + 0.1 * CAST((a.id + b.id) % 4 AS DOUBLE))
               * sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)) AS rest,
             0.0 AS u
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) < {eps}),
    s0 AS MATERIALIZED (
      SELECT id, x, y,
             CAST(id % 3 - 1 AS DOUBLE) * 8.0 AS vx,
             CAST(id % 5 - 2 AS DOUBLE) * 4.0 AS vy,
             1.0 AS m
      FROM pts)"""
    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        steps.append(f""",
    e{i} AS MATERIALIZED (
      SELECT src, dst, rest, ax, ay, bx, by, dist,
             CASE WHEN u > 0 THEN (dist - u) / {dt}
                  ELSE 0.0 END AS rate
      FROM (
        SELECT b.src, b.dst, b.rest, b.u,
               pa.x AS ax, pa.y AS ay, pb.x AS bx, pb.y AS by,
               sqrt((pb.x - pa.x) * (pb.x - pa.x)
                    + (pb.y - pa.y) * (pb.y - pa.y)) AS dist
        FROM b{p} b
        JOIN s{p} pa ON b.src = pa.id
        JOIN s{p} pb ON b.dst = pb.id)),
    br{i} AS MATERIALIZED (
      SELECT src, dst, rest, dist AS u FROM e{i}
      WHERE dist - rest > {eb} * rest),
    b{i} AS MATERIALIZED (
      SELECT src, dst, rest, dist AS u FROM e{i}
      WHERE NOT (dist - rest > {eb} * rest)),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy FROM (
        SELECT src AS id,
               CASE WHEN dist > 0
                    THEN ({k} * (dist - rest) + {eta_l} * rate)
                         / dist * (bx - ax)
                    ELSE 0.0 END AS fx,
               CASE WHEN dist > 0
                    THEN ({k} * (dist - rest) + {eta_l} * rate)
                         / dist * (by - ay)
                    ELSE 0.0 END AS fy
        FROM e{i} WHERE NOT (dist - rest > {eb} * rest)
        UNION ALL
        SELECT dst AS id,
               CASE WHEN dist > 0
                    THEN -(({k} * (dist - rest) + {eta_l} * rate)
                           / dist * (bx - ax))
                    ELSE 0.0 END,
               CASE WHEN dist > 0
                    THEN -(({k} * (dist - rest) + {eta_l} * rate)
                           / dist * (by - ay))
                    ELSE 0.0 END
        FROM e{i} WHERE NOT (dist - rest > {eb} * rest))
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + (s.vx + coalesce(f.fx, 0.0) / s.m * {dt}) * {dt} AS x,
             s.y + (s.vy + coalesce(f.fy, 0.0) / s.m * {dt}) * {dt} AS y,
             s.vx + coalesce(f.fx, 0.0) / s.m * {dt} AS vx,
             s.vy + coalesce(f.fy, 0.0) / s.m * {dt} AS vy,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    broken = "\n    UNION ALL\n".join(
        f"""    SELECT src, dst, CAST({i} AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS last_len_micro
    FROM br{i}"""
        for i in range(1, n_steps + 1)
    )
    tail = f"""
    SELECT src, dst, CAST(-1 AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS last_len_micro
    FROM b{n_steps}
    UNION ALL
{broken}
    """
    return head + "".join(steps) + tail


@register(
    "q205_viscoelastic_bonds",
    oracle=_kelvin_voigt_oracle(
        8, "1.0", repr(_KV_DT), "30.0", _KV_ETA, _KV_EPS_B
    ),
    doc="SECOND pluggable constitutive law through the q192 hook — "
    "proof the UDM analog is general, not shaped to the shipped "
    "bilinear example (round-7 verdict #7): a rate-dependent "
    "Kelvin–Voigt viscoelastic law (spring + dashpot in parallel, "
    "f = k·strain·rest + η·d(dist)/dt along the bond) DEFINED IN THIS "
    "QUERY MODULE, not in the engine — the factory closes over dt and "
    "η, and repurposes the persistent ustate slot as the previous "
    "bond length (finite-difference rate) where q192 used it as "
    "damage memory; the two uses share nothing but the slot. Same "
    "q107/q192 scenario over TWO fuse=4 bursts, so the "
    "previous-length state provably survives the halo-exchange "
    "shuffle boundary; brittle break at 18% strain. Output is the "
    "per-bond terminal record (break step + last observed length in "
    "integer micro-units), hash-checked against a DuckDB oracle "
    "unrolling all 8 steps with the rate state threaded through "
    "every bond CTE in the kernel's exact IEEE association. "
    "Reference: UniaxialCompressionTest/UDM.dll (SURVEY §2.9).",
    tags=("simulation", "E3", "udm", "constitutive", "iterative", "scale"),
)
def q205_viscoelastic_bonds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
    )
    bonds = grid_proximity_join(pts, eps=30.0, id_col="id").select(
        "src",
        "dst",
        (
            (0.85 + 0.1 * ((F.col("src") + F.col("dst")) % 4).cast("double"))
            * F.col("dist")
        ).alias("rest"),
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        ((F.col("id") % 3 - 1).cast("double") * 8.0).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 4.0).alias("vy"),
        F.lit(1.0).alias("m"),
    )
    # a live bond satisfies dist <= (1 + eps_b) * rest (anything longer
    # broke at the top of the step); max rest <= 1.15 * eps = 34.5,
    # usual 1.05 sub-step overshoot margin
    reach = 1.05 * (1.0 + _KV_EPS_B) * 34.5
    _, bond_log = run_solver_blocked_breaking(
        state0,
        bonds,
        n_steps=8,
        strain_limit=_KV_EPS_B,
        k=1.0,
        dt=_KV_DT,
        fuse=4,
        reach=reach,
        bond_law=_kelvin_voigt_law(_KV_DT, _KV_ETA),
    )
    return bond_log.select(
        "src",
        "dst",
        "break_step",
        F.round(F.col("ustate") * 1000000.0)
        .cast("long")
        .alias("last_len_micro"),
    )


# --- q212: the Kelvin–Voigt law through the 3D hook -------------------------


def _kelvin_voigt_oracle3d(
    n_steps: int, k: str, dt: str, eps: str, eta: float, eps_b: float
) -> str:
    """3D variant of _kelvin_voigt_oracle: the same unrolled Euler CTE
    chain with the rate state ``u`` (previous bond length) threaded
    through every bond CTE, all three coordinates in the 3D kernel's
    exact IEEE association (force component on src along axis c is
    (k·(dist−rest) + η·rate)/dist · (b_c − a_c))."""
    eta_l = repr(eta)
    eb = repr(eps_b)
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y,
             CAST(c_custkey % 53 AS DOUBLE) * 5.0 AS z
      FROM customer),
    b0 AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             (0.85 + 0.1 * CAST((a.id + b.id) % 4 AS DOUBLE))
               * sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)
                      + (a.z - b.z) * (a.z - b.z)) AS rest,
             0.0 AS u
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)
                 + (a.z - b.z) * (a.z - b.z)) < {eps}),
    s0 AS MATERIALIZED (
      SELECT id, x, y, z,
             CAST(id % 3 - 1 AS DOUBLE) * 8.0 AS vx,
             CAST(id % 5 - 2 AS DOUBLE) * 4.0 AS vy,
             CAST(id % 7 - 3 AS DOUBLE) * 2.0 AS vz,
             1.0 AS m
      FROM pts)"""
    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        mag = f"({k} * (dist - rest) + {eta_l} * rate) / dist"
        comp = []
        for sign_ in ("", "-"):
            comp.append(
                ",\n               ".join(
                    f"""CASE WHEN dist > 0
                    THEN {sign_}({mag} * (b{c} - a{c}))
                    ELSE 0.0 END AS f{c}"""
                    for c in ("x", "y", "z")
                )
            )
        steps.append(f""",
    e{i} AS MATERIALIZED (
      SELECT src, dst, rest, ax, ay, az, bx, by, bz, dist,
             CASE WHEN u > 0 THEN (dist - u) / {dt}
                  ELSE 0.0 END AS rate
      FROM (
        SELECT b.src, b.dst, b.rest, b.u,
               pa.x AS ax, pa.y AS ay, pa.z AS az,
               pb.x AS bx, pb.y AS by, pb.z AS bz,
               sqrt((pb.x - pa.x) * (pb.x - pa.x)
                    + (pb.y - pa.y) * (pb.y - pa.y)
                    + (pb.z - pa.z) * (pb.z - pa.z)) AS dist
        FROM b{p} b
        JOIN s{p} pa ON b.src = pa.id
        JOIN s{p} pb ON b.dst = pb.id)),
    br{i} AS MATERIALIZED (
      SELECT src, dst, rest, dist AS u FROM e{i}
      WHERE dist - rest > {eb} * rest),
    b{i} AS MATERIALIZED (
      SELECT src, dst, rest, dist AS u FROM e{i}
      WHERE NOT (dist - rest > {eb} * rest)),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy, sum(fz) AS fz FROM (
        SELECT src AS id,
               {comp[0]}
        FROM e{i} WHERE NOT (dist - rest > {eb} * rest)
        UNION ALL
        SELECT dst AS id,
               {comp[1]}
        FROM e{i} WHERE NOT (dist - rest > {eb} * rest))
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + (s.vx + coalesce(f.fx, 0.0) / s.m * {dt}) * {dt} AS x,
             s.y + (s.vy + coalesce(f.fy, 0.0) / s.m * {dt}) * {dt} AS y,
             s.z + (s.vz + coalesce(f.fz, 0.0) / s.m * {dt}) * {dt} AS z,
             s.vx + coalesce(f.fx, 0.0) / s.m * {dt} AS vx,
             s.vy + coalesce(f.fy, 0.0) / s.m * {dt} AS vy,
             s.vz + coalesce(f.fz, 0.0) / s.m * {dt} AS vz,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    broken = "\n    UNION ALL\n".join(
        f"""    SELECT src, dst, CAST({i} AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS last_len_micro
    FROM br{i}"""
        for i in range(1, n_steps + 1)
    )
    tail = f"""
    SELECT src, dst, CAST(-1 AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS last_len_micro
    FROM b{n_steps}
    UNION ALL
{broken}
    """
    return head + "".join(steps) + tail


@register(
    "q212_viscoelastic_bonds_3d",
    oracle=_kelvin_voigt_oracle3d(
        8, "1.0", repr(_KV_DT), "60.0", _KV_ETA, _KV_EPS_B
    ),
    doc="The Kelvin–Voigt viscoelastic law through the 3D solver hook "
    "(round-8 verdict #7: the 3D path gained the force_law hook in r7 "
    "but only the default law was registered): the SAME "
    "_kelvin_voigt_law factory as q205 — the law is dimension-agnostic "
    "by the hook's contract (dist/rest/k/state arrays) — driving "
    "simulation/solver.py's run_solver_blocked_breaking over a 3D "
    "customer-derived bond network for TWO fuse=4 bursts, so the "
    "previous-length ustate provably survives the 3x3x3 halo-exchange "
    "shuffle boundary in 3D (fuse-split bit-equality is also "
    "property-tested in tests/test_solver3d.py). Scenario: the q122 "
    "point cloud given q205's initial velocities plus a z component, "
    "q205's per-bond rest heterogeneity, brittle break at 18% strain. "
    "Output per input bond: break step (-1 = survived) and the last "
    "observed length in integer micro-units, hash-checked against a "
    "DuckDB oracle unrolling all 8 steps in 3 coordinates with the "
    "rate state threaded through every bond CTE. Reference: "
    "UniaxialCompressionTest/UDM.dll + BALL3D_PSLICE.dat (SURVEY "
    "§2.9/§2.4).",
    tags=("simulation", "E3", "udm", "constitutive", "iterative", "scale",
          "3d"),
)
def q212_viscoelastic_bonds_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
        ((F.col("c_custkey") % 53).cast("double") * 5.0).alias("z"),
    )
    # 2D grid candidates are a superset of the 3D eps-ball (q122's
    # argument); the exact 3D distance filter uses the same raw-delta
    # IEEE expression as the oracle's b0 CTE
    cand = grid_proximity_join(
        pts.select("id", "x", "y"), eps=60.0, id_col="id"
    ).select("src", "dst")
    pa = pts.select(
        F.col("id").alias("src"), F.col("x").alias("xa"),
        F.col("y").alias("ya"), F.col("z").alias("za"),
    )
    pb = pts.select(
        F.col("id").alias("dst"), F.col("x").alias("xb"),
        F.col("y").alias("yb"), F.col("z").alias("zb"),
    )
    d3 = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
        + (F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb"))
    )
    bonds = (
        cand.join(pa, "src")
        .join(pb, "dst")
        .withColumn("d3", d3)
        .filter(F.col("d3") < 60.0)
        .select(
            "src",
            "dst",
            (
                (
                    0.85
                    + 0.1 * ((F.col("src") + F.col("dst")) % 4).cast("double")
                )
                * F.col("d3")
            ).alias("rest"),
        )
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        "z",
        ((F.col("id") % 3 - 1).cast("double") * 8.0).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 4.0).alias("vy"),
        ((F.col("id") % 7 - 3).cast("double") * 2.0).alias("vz"),
        F.lit(1.0).alias("m"),
    )
    # live bond <= (1 + eps_b) * rest; max rest <= 1.15 * 60 = 69.0
    reach = 1.05 * (1.0 + _KV_EPS_B) * 69.0
    _, bond_log = run_solver_blocked_breaking(
        state0,
        bonds,
        n_steps=8,
        strain_limit=_KV_EPS_B,
        k=1.0,
        dt=_KV_DT,
        fuse=4,
        reach=reach,
        bond_law=_kelvin_voigt_law(_KV_DT, _KV_ETA),
    )
    return bond_log.select(
        "src",
        "dst",
        "break_step",
        F.round(F.col("ustate") * 1000000.0)
        .cast("long")
        .alias("last_len_micro"),
    )


# --- q292: the bilinear softening law through the 3D hook --------------------


def _softening_oracle3d(
    n_steps: int, k: str, dt: str, eps: str, eps_y: float
) -> str:
    """3D variant of _softening_oracle: the same unrolled bilinear-
    damage CTE chain with the max-strain state ``u`` threaded through
    every bond CTE and all three coordinates in the 3D kernel's exact
    IEEE association (see _kelvin_voigt_oracle3d for the 3D force
    component shape, _softening_oracle for the damage-secant ``eff``)."""
    eps_u = repr(2.0 * eps_y)
    ey = repr(eps_y)
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT c_custkey AS id, c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) * 25.0 AS y,
             CAST(c_custkey % 53 AS DOUBLE) * 5.0 AS z
      FROM customer),
    b0 AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             (0.85 + 0.1 * CAST((a.id + b.id) % 4 AS DOUBLE))
               * sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)
                      + (a.z - b.z) * (a.z - b.z)) AS rest,
             0.0 AS u
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE sqrt((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)
                 + (a.z - b.z) * (a.z - b.z)) < {eps}),
    s0 AS MATERIALIZED (
      SELECT id, x, y, z,
             CAST(id % 3 - 1 AS DOUBLE) * 8.0 AS vx,
             CAST(id % 5 - 2 AS DOUBLE) * 4.0 AS vy,
             CAST(id % 7 - 3 AS DOUBLE) * 2.0 AS vz,
             1.0 AS m
      FROM pts)"""
    eff = f"""CASE WHEN strain > 0 THEN
                   CASE WHEN new_max <= {ey} THEN 1.0
                        WHEN new_max < {eps_u}
                        THEN ({eps_u} - new_max) / {ey} * {ey}
                             / greatest(new_max, 1e-300)
                        ELSE 0.0 END
                 ELSE 1.0 END AS eff"""
    steps = []
    for i in range(1, n_steps + 1):
        p = i - 1
        comp = []
        for sign_ in ("", "-"):
            body = ",\n               ".join(
                f"""CASE WHEN dist > 0
                    THEN {sign_}(eff * {k} * (dist - rest) / dist * (b{c} - a{c}))
                    ELSE 0.0 END AS f{c}"""
                for c in ("x", "y", "z")
            )
            comp.append(body)
        steps.append(f""",
    e{i} AS MATERIALIZED (
      SELECT src, dst, rest, ax, ay, az, bx, by, bz, dist,
             CASE WHEN rest > 0 THEN (dist - rest) / rest
                  ELSE 0.0 END AS strain,
             greatest(u, CASE WHEN rest > 0 THEN (dist - rest) / rest
                              ELSE 0.0 END) AS new_max
      FROM (
        SELECT b.src, b.dst, b.rest, b.u,
               pa.x AS ax, pa.y AS ay, pa.z AS az,
               pb.x AS bx, pb.y AS by, pb.z AS bz,
               sqrt((pb.x - pa.x) * (pb.x - pa.x)
                    + (pb.y - pa.y) * (pb.y - pa.y)
                    + (pb.z - pa.z) * (pb.z - pa.z)) AS dist
        FROM b{p} b
        JOIN s{p} pa ON b.src = pa.id
        JOIN s{p} pb ON b.dst = pb.id)),
    br{i} AS MATERIALIZED (
      SELECT src, dst, rest, new_max AS u FROM e{i}
      WHERE new_max >= {eps_u}),
    b{i} AS MATERIALIZED (
      SELECT src, dst, rest, new_max AS u FROM e{i}
      WHERE NOT (new_max >= {eps_u})),
    f{i} AS MATERIALIZED (
      SELECT id, sum(fx) AS fx, sum(fy) AS fy, sum(fz) AS fz FROM (
        SELECT src AS id,
               {comp[0]}
        FROM (
          SELECT *, {eff}
          FROM e{i} WHERE NOT (new_max >= {eps_u}))
        UNION ALL
        SELECT dst AS id,
               {comp[1]}
        FROM (
          SELECT *, {eff}
          FROM e{i} WHERE NOT (new_max >= {eps_u})))
      GROUP BY id),
    s{i} AS MATERIALIZED (
      SELECT s.id,
             s.x + (s.vx + coalesce(f.fx, 0.0) / s.m * {dt}) * {dt} AS x,
             s.y + (s.vy + coalesce(f.fy, 0.0) / s.m * {dt}) * {dt} AS y,
             s.z + (s.vz + coalesce(f.fz, 0.0) / s.m * {dt}) * {dt} AS z,
             s.vx + coalesce(f.fx, 0.0) / s.m * {dt} AS vx,
             s.vy + coalesce(f.fy, 0.0) / s.m * {dt} AS vy,
             s.vz + coalesce(f.fz, 0.0) / s.m * {dt} AS vz,
             s.m
      FROM s{p} s LEFT JOIN f{i} f ON s.id = f.id)""")
    broken = "\n    UNION ALL\n".join(
        f"""    SELECT src, dst, CAST({i} AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS damage_micro
    FROM br{i}"""
        for i in range(1, n_steps + 1)
    )
    tail = f"""
    SELECT src, dst, CAST(-1 AS BIGINT) AS break_step,
           CAST(round(u * 1000000) AS BIGINT) AS damage_micro
    FROM b{n_steps}
    UNION ALL
{broken}
    """
    return head + "".join(steps) + tail


@register(
    "q292_softening_bonds_3d",
    oracle=_softening_oracle3d(8, "1.0", "0.05", "60.0", _SOFT_EPS_Y),
    doc="The bilinear cohesive-softening law through the 3D solver "
    "hook — completes the law x dimension matrix (q192 = bilinear 2D, "
    "q205 = Kelvin-Voigt 2D, q212 = Kelvin-Voigt 3D): the SAME "
    "bilinear_softening_law kernel (dimension-agnostic by the hook's "
    "dist/rest/strength/ustate contract) driving "
    "simulation/solver.py's run_solver_blocked_breaking on a 3D "
    "state, with the IRREVERSIBLE max-strain damage state riding the "
    "bond column across the 3x3x3 halo-exchange shuffle for two "
    "fuse=4 bursts. "
    "Scenario: q212's 3D point cloud and velocities, yield strain "
    "12%, ultimate 24% (breaks), damaged-secant unloading in between. "
    "Output per input bond: break step (-1 = survived) and the "
    "max-historical-strain damage in integer micro-units, "
    "hash-checked against a DuckDB oracle unrolling all 8 steps in 3 "
    "coordinates with the damage state threaded through every bond "
    "CTE. Reference: UniaxialCompressionTest/UDM.dll + "
    "BALL3D_PSLICE.dat (SURVEY §2.9/§2.4).",
    tags=("simulation", "E3", "udm", "constitutive", "iterative", "scale",
          "3d"),
)
def q292_softening_bonds_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnarmodeling_spark.operators.proximity import grid_proximity_join
    from columnarmodeling_spark.simulation.solver import (
        bilinear_softening_law,
        run_solver_blocked_breaking,
    )

    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97).cast("double") * 25.0).alias("y"),
        ((F.col("c_custkey") % 53).cast("double") * 5.0).alias("z"),
    )
    cand = grid_proximity_join(
        pts.select("id", "x", "y"), eps=60.0, id_col="id"
    ).select("src", "dst")
    pa = pts.select(
        F.col("id").alias("src"), F.col("x").alias("xa"),
        F.col("y").alias("ya"), F.col("z").alias("za"),
    )
    pb = pts.select(
        F.col("id").alias("dst"), F.col("x").alias("xb"),
        F.col("y").alias("yb"), F.col("z").alias("zb"),
    )
    d3 = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
        + (F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb"))
    )
    bonds = (
        cand.join(pa, "src")
        .join(pb, "dst")
        .withColumn("d3", d3)
        .filter(F.col("d3") < 60.0)
        .select(
            "src",
            "dst",
            (
                (
                    0.85
                    + 0.1 * ((F.col("src") + F.col("dst")) % 4).cast("double")
                )
                * F.col("d3")
            ).alias("rest"),
        )
    )
    state0 = pts.select(
        "id",
        "x",
        "y",
        "z",
        ((F.col("id") % 3 - 1).cast("double") * 8.0).alias("vx"),
        ((F.col("id") % 5 - 2).cast("double") * 4.0).alias("vy"),
        ((F.col("id") % 7 - 3).cast("double") * 2.0).alias("vz"),
        F.lit(1.0).alias("m"),
    )
    # a live bond survives to strain < eps_u = 2*eps_y; max rest <=
    # 1.15 * 60 = 69.0, with the usual 1.05 margin
    reach = 1.05 * (1.0 + 2.0 * _SOFT_EPS_Y) * 69.0
    _, bond_log = run_solver_blocked_breaking(
        state0,
        bonds,
        n_steps=8,
        strain_limit=_SOFT_EPS_Y,
        k=1.0,
        dt=0.05,
        fuse=4,
        reach=reach,
        bond_law=bilinear_softening_law,
    )
    return bond_log.select(
        "src",
        "dst",
        "break_step",
        F.round(F.col("ustate") * 1000000.0)
        .cast("long")
        .alias("damage_micro"),
    )
