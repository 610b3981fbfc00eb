"""The benchmark's two closed-loop workloads.

One client issues one operation at a time and waits for it. A *pass* is
one full round of a workload's operations; an *op* is one thing the user
waits for (one whole specimen, or one query built and run into the
``noop`` sink); inside an op, each call into an engine layer is a *layer*
span.

- ``ice_specimen``: the paper's pipeline on one seeded specimen — mesh,
  cut to the cylinder specimen, bond build, breaking lattice-spring
  experiment with its step-partitioned snapshot sink, and the binary
  snapshot codec over the snapshots read back.
- ``query_mix``: queries that run entirely in the JVM SQL engine, and
  LLM-data queries whose work crosses pandas/Arrow UDF boundaries or loops
  on the driver.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from perfbench import datagen

# Each query runs in about a second or less at the mix's scale factor and
# agrees with its DuckDB oracle on the generated tables.
QUERY_MIX = (
    # JVM-only SQL-engine queries, one per module: optimizer, shuffles,
    # parquet scans and driver-side job launches, almost no Python work
    "q02_regional_revenue",
    "q22_window_rank_lag",
    "q27_set_algebra",
    "q184_period_over_period",
    "q171_twap",
    "q61_bbox_damage",
    "q80_stream_tumbling",
    # LLM-data queries with measured Python-worker CPU (pandas/Arrow UDF
    # boundaries) or a driver-side loop (k-means), and MinHash-LSH dedup
    "q46_cosine_topk",
    "q143_kmeans_lloyd",
    "q75_chunk_udtf",
    "q232_greedy_packing",
    "q144_audio_windows",
    "q44_lsh_candidates",
)


@dataclass
class Op:
    """One user-visible call; output checks attribute failures to its
    name."""

    name: str
    run: Callable[[], None]


class Workload:
    name = ""
    # Warm pass time on the reference box. A run times
    # round(--seconds / nominal_pass_s) passes: a fixed amount of work, so
    # every run of a workload has the same sample count and a faster
    # program is timed on the same passes rather than on more of them.
    nominal_pass_s = 1.0

    def setup(self, spark, seed: int, sizes: dict, run_dir: str) -> None:
        raise NotImplementedError

    def ops(self, tracer, pass_no: int, cold: bool = False) -> list[Op]:
        """One pass's ops in order. The cold pass keeps what ``verify``
        needs to check its outputs."""
        raise NotImplementedError

    def verify(self) -> dict[str, str]:
        """Check the cold pass's outputs (untimed); returns failing op name
        -> reason."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# ice_specimen


class IceSpecimen(Workload):
    name = "ice_specimen"
    nominal_pass_s = 9.5
    W = H = 100.0
    D = 25.0

    def setup(self, spark, seed: int, sizes: dict, run_dir: str) -> None:
        from columnarmodeling_spark.geometry import clip
        from columnarmodeling_spark.simulation.experiment import ExperimentConfig

        self.spark, self.run_dir = spark, run_dir
        rng = np.random.default_rng([seed, 7])
        g = sizes["grains"]
        pts = rng.uniform(1.0, self.W - 1.0, size=(g, 2))
        self.seeds = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
            "id LONG, x DOUBLE, y DOUBLE",
        )
        nx, ny = sizes["lattice"]
        jit = rng.uniform(-0.02, 0.02, size=(ny, nx, 2))
        self.n_particles = nx * ny
        self.particle_steps = nx * ny * sizes["steps"]
        self.particles = spark.createDataFrame(
            [
                (j * nx + i, i + float(jit[j, i, 0]), j + float(jit[j, i, 1]))
                for j in range(ny)
                for i in range(nx)
            ],
            "id LONG, x DOUBLE, y DOUBLE",
        )
        # A top platen pulled upward at constant speed against a clamped
        # base: the bonds under the platen stretch past the strain limit,
        # so the breaking law really breaks bonds.
        self.cfg = ExperimentConfig(
            d_gap=1.5,
            n_steps=sizes["steps"],
            n_out=sizes["steps"],
            fuse=sizes["steps"],
            strain_limit=0.02,
            platen_vy=1.0,
        )
        self.lloyd_iters = sizes["lloyd_iters"]
        w, h, d = self.W, self.H, self.D
        # The Brazilian-split plate: a z-axis cylinder, so the cut exercises
        # both the two planes and the quadric of the cutter menu. Every
        # clipped vertex must lie within it.
        self.cylinder = (w / 2, h / 2, 45.0, 2.0, d - 2.0)  # cx, cy, r, z0, z1
        cx, cy, r, z0, z1 = self.cylinder
        self.cutters = clip.cylinder_cutters(cx, cy, z0, r, z1 - z0)
        self.out: dict = {}
        # (pass number, seconds) of every run_experiment call
        self.experiment_s: list[tuple[int, float]] = []
        # per pass, the seconds of each pipeline step
        self.step_s: list[dict] = []

    def ops(self, tracer, pass_no: int, cold: bool = False) -> list[Op]:
        from pyspark.sql import functions as F

        from columnarmodeling_spark.geometry.clip import clip_facets
        from columnarmodeling_spark.geometry.pipeline import generate_columnar_mesh
        from columnarmodeling_spark.simulation import experiment
        from columnarmodeling_spark.sources.binary_snapshots import (
            decode_blobs,
            encode_groups,
        )

        out = self.out
        # run_experiment appends to its output path, so each pass writes a
        # fresh directory; the previous pass's is no longer needed.
        shutil.rmtree(out.get("snap_dir", ""), ignore_errors=True)
        out.clear()
        snap_dir = os.path.join(self.run_dir, "snapshots", f"pass{pass_no}")
        out["snap_dir"] = snap_dir

        def mesh() -> None:
            with tracer.span("geometry.pipeline", "layer"):
                grains, facets = generate_columnar_mesh(
                    self.spark, self.seeds, self.W, self.H, self.D,
                    lloyd_iters=self.lloyd_iters,
                )
                out["grains"] = grains.localCheckpoint()
                out["ring"] = facets.select(
                    "grain_id",
                    "facet_pos",
                    F.array("p1", "p2", "p3", "p4").alias("vertices"),
                ).localCheckpoint()

        def clip() -> None:
            with tracer.span("geometry.clip", "layer"):
                out["clipped"] = clip_facets(out["ring"], self.cutters).localCheckpoint()

        real_join = experiment.grid_proximity_join

        def traced_join(*args, **kwargs):
            # The join is lazy; in a traced pass it is materialised inside
            # its own span so the span holds the join's work rather than
            # only its planning. Untraced passes run build_bonds unchanged.
            with tracer.span("operators.proximity", "layer"):
                return real_join(*args, **kwargs).localCheckpoint()

        def bonds() -> None:
            if tracer.enabled:
                experiment.grid_proximity_join = traced_join
            try:
                with tracer.span("simulation.experiment", "layer", call="build_bonds"):
                    out["bonds"] = experiment.build_bonds(
                        self.particles, self.cfg
                    ).localCheckpoint()
            finally:
                experiment.grid_proximity_join = real_join

        def run_experiment() -> None:
            with tracer.span("simulation.experiment", "layer", call="run_experiment") as s:
                t0 = time.perf_counter()
                res = experiment.run_experiment(
                    self.spark, self.particles, self.cfg, snap_dir,
                    bonds=out["bonds"],
                )
                exp_s = time.perf_counter() - t0
                out["b_series"] = res["b_series"].collect()
                out["e_series"] = res["e_series"].collect()
                self.experiment_s.append((pass_no, exp_s))
                if s is not None:
                    s.attrs["particle_steps_per_s"] = self.particle_steps / exp_s
                    s.attrs["written_mb"] = _tree_bytes(snap_dir) / 1e6

        def codec() -> None:
            with tracer.span("sources.binary_snapshots", "layer"):
                snaps = self.spark.read.parquet(snap_dir)
                blobs = encode_groups(snaps, "step", ["x", "y", "vx", "vy"])
                out["decoded_rows"] = decode_blobs(blobs.localCheckpoint(), 4).count()

        steps = (("mesh", mesh), ("clip", clip), ("bonds", bonds),
                 ("experiment", run_experiment), ("codec", codec))

        def specimen() -> None:
            times = {}
            self.step_s.append({"pass": pass_no, "steps": times})
            for name, step in steps:
                t0 = time.perf_counter()
                step()
                times[name] = time.perf_counter() - t0

        return [Op("specimen", specimen)]

    def verify(self) -> dict[str, str]:
        from pyspark.sql import functions as F

        out = self.out
        if "decoded_rows" not in out:
            return {}  # a step raised; its failure is already counted
        bad = []
        area = out["grains"].agg(F.sum("area")).collect()[0][0]
        if not math.isclose(area, self.W * self.H, rel_tol=1e-9):
            bad.append(f"mesh: cell area sum {area} != W*H {self.W * self.H}")
        cx, cy, r, z0, z1 = self.cylinder
        v = out["clipped"].select(F.explode("vertices").alias("v"))
        n, lo, hi, far = v.agg(
            F.count("*"), F.min("v.z"), F.max("v.z"),
            F.max(F.sqrt((F.col("v.x") - cx) ** 2 + (F.col("v.y") - cy) ** 2)),
        ).collect()[0]
        if not n:
            bad.append("clip: every facet was cut away")
        elif lo < z0 - 1e-9 or hi > z1 + 1e-9 or far > r + 1e-9:
            bad.append(
                f"clip: a vertex outside the cylinder: z in [{lo}, {hi}], "
                f"{far} from the axis (r={r}, z in [{z0}, {z1}])"
            )
        if out["bonds"].count() < 1:
            bad.append("bonds: no bonds")
        damage = max(r["damage"] for r in out["b_series"])
        if not 0.0 < damage <= 1.0:
            bad.append(f"experiment: final damage {damage} not in (0, 1]")
        snap_rows = self.spark.read.parquet(out["snap_dir"]).count()
        n_out = self.cfg.n_steps // self.cfg.n_out
        if snap_rows != self.n_particles * n_out:
            bad.append(
                f"experiment: {snap_rows} snapshot rows != {self.n_particles} x {n_out}"
            )
        if out["decoded_rows"] != snap_rows:
            bad.append(f"codec: {out['decoded_rows']} decoded rows != {snap_rows}")
        return {"specimen": "; ".join(bad)} if bad else {}


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# --------------------------------------------------------------------------
# query mixes


class QueryMix(Workload):
    name = "query_mix"
    nominal_pass_s = 8.0

    def setup(self, spark, seed: int, sizes: dict, run_dir: str) -> None:
        from columnarmodeling_spark.queries import REGISTRY

        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(run_dir, "data")
        datagen.write(seed, sizes["sf"], self.sf_dir)
        self.specs = [REGISTRY[q] for q in QUERY_MIX]

    @staticmethod
    def layer(spec) -> str:
        return "queries." + spec.fn.__module__.rsplit(".", 1)[-1]

    def ops(self, tracer, pass_no: int, cold: bool = False) -> list[Op]:
        # A fresh seeded order each pass, so no query always follows the
        # same neighbour.
        order = list(self.specs)
        random.Random(f"{self.seed}:{pass_no}").shuffle(order)
        if cold:
            self.results = {}
        return [Op(s.name, self._runner(tracer, s, cold)) for s in order]

    def _runner(self, tracer, spec, cold: bool) -> Callable[[], None]:
        layer = self.layer(spec)

        def run() -> None:
            with tracer.span(layer, "layer", phase="build"):
                df = spec.fn(self.spark, self.sf_dir)
            with tracer.span(layer, "layer", phase="run"):
                if cold:  # a one-shot user fetches the result
                    self.results[spec.name] = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()

        return run

    def verify(self) -> dict[str, str]:
        """Compare each cold-pass result with the query's DuckDB oracle on
        the same tables, as the test suite does: column names, row count
        and order-insensitive values at 6 decimals."""
        from tests.oracle_utils import canonical_rows, run_oracle

        bad: dict[str, str] = {}
        for spec in self.specs:
            if spec.name not in self.results:
                continue  # it raised; already counted as failed
            cols, rows = self.results[spec.name]
            ocols, orows = run_oracle(spec.oracle, self.sf_dir)
            if sorted(cols) != sorted(ocols):
                bad[spec.name] = f"columns {sorted(cols)} != oracle {sorted(ocols)}"
            elif len(rows) != len(orows):
                bad[spec.name] = f"{len(rows)} rows != oracle {len(orows)}"
            elif canonical_rows(cols, rows) != canonical_rows(ocols, orows):
                bad[spec.name] = "values differ from oracle"
        return bad


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (IceSpecimen, QueryMix)
}


