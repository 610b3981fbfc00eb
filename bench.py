"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes end-to-end into a noop sink (full plan, no driver
collect). Run directly: ``python bench.py``.

Round-14 artifact-decidability fixes (r13 verdict item 1 — the official
BENCH_r13 was BOTH dirty and truncated, and only voluntary extra runs
rescued the round's perf story):

1. The stdout line is COMPACT (qNN keys, 2-decimal seconds, no
   per-rep arrays) so it fits the driver's 2000-char tail capture —
   r12/r13's full-width line overflowed it and the checked-in artifact
   parsed to null. Full detail (per-rep arrays, spreads, preflight,
   per-attempt run conditions) is written to BENCH_FULL.json at the
   repo root, regenerated every run.
2. Retry-until-clean: the timed region re-runs (up to
   $SPARK_GRAFT_BENCH_ATTEMPTS, default 3, plus up to
   $SPARK_GRAFT_BENCH_BACKOFFS extra windows after a
   $SPARK_GRAFT_BENCH_BACKOFF_S sleep) until the run monitor reports
   run_clean (no foreign CPU, no foreign JVMs, hypervisor steal under
   5% of the region). The published numbers are the FIRST clean
   attempt's; if none is clean, the LOWEST-STEAL attempt publishes
   with "run_clean": false and every attempt is preserved so the
   artifact is decidable either way.

Round-15 cleanliness ratchet (r14 verdict item 1 — the round-14 close
overwrote a committed clean BENCH_FULL.json with a dirty regen): when
no attempt is clean but the existing BENCH_FULL.json at the same sf
holds a clean published attempt, that file is left untouched, the
dirty run lands in BENCH_FULL_dirty.json, and the stdout line
republishes the protected clean numbers (flagged "protected_clean").

Round-16 fixes: (1) the idle preflight degrades to a clean:false
publish instead of exit 3 (r15 verdict item 1 — both driver runs were
mute because one persistent foreign JVM never settled; strict refusal
now requires SPARK_GRAFT_BENCH_STRICT=1); (2) the ratchet only
protects a clean artifact produced by the SAME code revision ("head"
stamp) — clean numbers from different code must not be republished as
if they measured HEAD.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from columnarmodeling_spark.queries import REGISTRY  # noqa: E402
from columnarmodeling_spark.session import get_spark  # noqa: E402

# Representative shapes: scan-agg, star join, array HOF, windows, global
# index, proximity join, dedup, similarity, text analysis. The ANN slot
# is q69 (IVF search, the scale path) — NOT q46, whose driver-side
# collect is the documented sf-small baseline kernel only.
HEADLINE = [
    "q01_pricing_summary",
    "q02_regional_revenue",
    "q18_array_hof",
    "q22_window_rank_lag",
    "q25_row_grouping",
    "q26_sessionization",
    "q30_proximity_pairs",
    "q37_percentiles",
    "q42_ngram_jaccard_pairs",
    "q44_lsh_candidates",
    "q49_embedding_neardup",
    "q51_quality_score",
    "q97_bm25_topterms",
    "q69_ivf_search",
    "q96_ivf_adaptive",
    "q56_dup_clusters",
    "q64_solver_steps",
    "q70_snapshot_codec",
    "q85_stream_stream_join",
    # round-6 operators with sf0.1-tractable shapes (q126 IVF-PQ stays
    # out: its every-probe ADC fan-out is the documented sf-small
    # exactness form; the bench ANN slots remain q69/q96)
    "q127_bloom_prefilter",
    "q128_triangle_count",
    "q129_prefix_filter_join",
    "q130_sequence_packing",
    # late round-6 additions: the HLL register build (sketch family),
    # the funnel's chained user-keyed aggs, and the k-means loop (the
    # iterative-trainer shape under time)
    "q134_hll_distinct",
    "q135_funnel",
    "q143_kmeans_lloyd",
    # round-7 additions: the bbox-bin spatial join, the pluggable-law
    # breaking solver (two fuse=4 rounds incl. the ustate carry), and
    # the fixed-round LPA community pass (the per-round join+agg+
    # degree-bounded-window iteration shape)
    "q182_point_in_polygon",
    "q192_softening_bonds",
    "q193_label_propagation",
    # round-8 additions: the second pluggable law through the solver
    # hook, the segmented-EWMA two-agg fold, and the decontamination
    # distinct-gram join (the training-pipeline screen shape)
    "q205_viscoelastic_bonds",
    "q208_ewma_segmented",
    "q209_decontamination",
    # round-9 additions: the winnowing fingerprint pass (window +
    # banded join shape), the span-extension screen (diagonal islands
    # shape), and the histogram-first rank test
    "q213_winnowing",
    "q214_contamination_spans",
    "q216_mann_whitney",
    # late round-9 addition: the vocabulary-keyed source-pair join
    # (the bounded-fan-out drift-metric shape shared by q235/q247/q262)
    "q262_hellinger",
    # round-10 heavy tier (r10 verdict item 3): the Newton-fold trainer
    # (IRLS logistic), the 90/10-split bigram LM scoring join, the
    # stateful streaming heavy-hitter pass, the WoE/IV binned-evidence
    # fold, and the greedy first-fit packing loop — the most expensive
    # new shapes, benched so a perf regression there surfaces per-round
    "q286_irls_logistic",
    "q295_heldout_perplexity",
    "q290_stream_heavy_hitters",
    "q298_woe_iv",
    "q232_greedy_packing",
    # round-12 additions: the codegen-heavy per-row string chain (URL
    # canonicalization), the blocked-linkage self-join, and the
    # DSIR scoring pass (explode + two broadcast joins + TakeOrdered) —
    # q317 stays out: it reuses q42's benched pair skeleton verbatim
    "q312_url_canonicalize",
    "q313_record_linkage",
    "q316_dsir_importance",
]


def _other_jvms() -> list[int]:
    """PIDs of java processes not belonging to this bench (which has not
    started its own JVM yet when the preflight runs)."""
    import subprocess

    try:
        out = subprocess.run(
            ["pgrep", "-x", "java"], capture_output=True, text=True, timeout=10
        ).stdout
        return [int(p) for p in out.split()]
    except Exception:
        return []


def _preflight_idle(
    max_wait_s: float = 600.0, thresh_frac: float = 0.05
) -> dict:
    """Wait for an idle machine before timing (round-5 verdict #4;
    round-8 verdict #1: the old 0.25 x ncpu = 8.0 threshold stamped a
    load1=6.62 machine as clean, inflating every BENCH_r08 number
    ~1.4x). The gate is 0.05 x ncpu (load1 <= 1.6 on 32 cores) with a
    10-minute settle window.

    Round-16 fix (r15 verdict item 1 — BOTH driver runs exited 3 at
    this gate because one persistent foreign java process never went
    away, so the round published ZERO numbers): if the machine never
    settles, RUN ANYWAY and publish with ``clean: false`` + the
    preflight detail. The run monitor still stamps run_clean per
    attempt, and the cleanliness ratchet keeps a dirty run from
    overwriting a committed clean BENCH_FULL.json only when both were
    measured at the same sf and the same clean head stamp (a prior
    stamped ``<rev>-dirty`` names no definite code, so it is never
    protected) — so a degraded publish is decidable, while a mute
    bench is a measurement-availability bug. Refusal (exit 3, no stdout JSON) is
    reserved for an explicit SPARK_GRAFT_BENCH_STRICT=1.
    SPARK_GRAFT_BENCH_FORCE=1 skips the settle wait entirely (local
    iteration)."""
    ncpu = os.cpu_count() or 1
    thresh = thresh_frac * ncpu
    force = os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "1"
    deadline = time.time() + (0.0 if force else max_wait_s)
    while True:
        load1 = os.getloadavg()[0]
        jvms = _other_jvms()
        if load1 <= thresh and not jvms:
            return {"load1": round(load1, 2), "other_jvms": 0, "clean": True}
        if time.time() >= deadline:
            msg = (
                f"bench preflight not idle after {max_wait_s:.0f}s "
                f"(load1={load1:.2f} thresh={thresh:.2f}, "
                f"{len(jvms)} foreign JVMs)"
            )
            if os.environ.get("SPARK_GRAFT_BENCH_STRICT") == "1":
                print(f"REFUSING TO PUBLISH: {msg}", file=sys.stderr)
                sys.exit(3)
            print(
                f"WARNING: {msg} — running anyway, publishing clean:false",
                file=sys.stderr,
            )
            return {
                "load1": round(load1, 2),
                "other_jvms": len(jvms),
                "clean": False,
                "detail": msg,
            }
        time.sleep(5)


def _proc_tree(root_pid: int) -> set[int]:
    """All live pids whose parent chain reaches *root_pid* (incl. it)."""
    ppid_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            # field 4 is ppid; comm (field 2) may contain spaces/parens,
            # so split after the closing paren
            ppid_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    tree = {root_pid}
    # iterate to fixpoint (tree depth is small; 2 passes usually enough)
    changed = True
    while changed:
        changed = False
        for pid, ppid in ppid_of.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                changed = True
    return tree


def _steal_jiffies() -> float:
    """Cumulative hypervisor steal jiffies (field 8 of /proc/stat cpu)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return float(parts[8]) if len(parts) > 8 else 0.0
    except (OSError, ValueError, IndexError):
        return 0.0


def _foreign_cpu_jiffies(self_tree: set[int]) -> float:
    """Total utime+stime jiffies of all processes OUTSIDE our tree."""
    total = 0.0
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in self_tree:
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += float(fields[11]) + float(fields[12])  # utime, stime
        except (OSError, ValueError, IndexError):
            continue
    return total


class _RunMonitor:
    """Background sampler for the timed region (round-8 verdict #1:
    publish conditions DURING the run, not just at preflight). Our own
    Spark JVM legitimately loads all 32 cores, so raw load1 is not a
    contamination signal mid-run — the signal is CPU burned by processes
    OUTSIDE our process tree. Publishes max load1 (for transparency) and
    the max foreign-CPU core-equivalents observed across samples."""

    def __init__(self, interval_s: float = 2.0):
        import threading

        self._interval = interval_s
        self._stop = threading.Event()
        self._tree = _proc_tree(os.getpid())
        self._clk = os.sysconf("SC_CLK_TCK")
        self.load1_max = 0.0
        self.foreign_cores_max = 0.0
        self.foreign_jvms_max = 0
        self._steal0 = _steal_jiffies()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        prev = _foreign_cpu_jiffies(self._tree)
        prev_t = time.time()
        while not self._stop.wait(self._interval):
            # refresh the tree (Spark forks python workers continuously)
            self._tree = _proc_tree(os.getpid())
            now_j = _foreign_cpu_jiffies(self._tree)
            now_t = time.time()
            dt = max(now_t - prev_t, 1e-6)
            cores = (now_j - prev) / self._clk / dt
            self.foreign_cores_max = max(self.foreign_cores_max, cores)
            self.load1_max = max(self.load1_max, os.getloadavg()[0])
            jvms = [p for p in _other_jvms() if p not in self._tree]
            self.foreign_jvms_max = max(self.foreign_jvms_max, len(jvms))
            prev, prev_t = now_j, now_t

    def __enter__(self) -> "_RunMonitor":
        self._t_enter = time.time()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._t_exit = time.time()

    def summary(self) -> dict:
        # < 0.5 foreign core-equivalents at every sample = nothing else
        # was meaningfully computing during the timed region.
        # steal_s: hypervisor-level CPU steal accumulated during the
        # run — interference from OTHER GUESTS on the host, which the
        # process-tree monitor cannot see (round-13 finding: a run with
        # run_clean=true and zero foreign JVMs still halved the solver;
        # the only witness is /proc/stat's steal column).
        # The steal gate is RATE-relative with a 30s floor (round-14):
        # the old absolute 30s bar was calibrated when the timed region
        # was ~10 min; the region now grows with the headline list and
        # the retry loop, so a fixed absolute bar conflates steal RATE
        # with region LENGTH — a host with a steady ~5% co-tenant steal
        # could never publish no matter how many retries, while 5%
        # bounds the measurement bias at the same level the preflight's
        # 0.05 x ncpu load gate already accepts (r14 calibration: three
        # back-to-back attempts at 4.7-5.6% steal agreed within 0.3%;
        # the r13 catastrophic run was 289s ≈ 48% and still fails).
        steal_s = (_steal_jiffies() - self._steal0) / self._clk
        region_s = max(self._t_exit - self._t_enter, 1e-6)
        steal_frac = steal_s / region_s
        # The absolute 30s arm is REGION-AWARE (r14 ADVICE): on a short
        # timed region (trimmed headline list, solver-only run) a flat
        # 30s allowance could approach half the region and still print
        # run_clean — so the absolute arm only applies when the region
        # is long enough (>= 300 s) that 30 s stays under ~10%. The
        # rate arm (5%, matching the preflight's load gate) is the
        # general criterion.
        return {
            "load1_max_during_run": round(self.load1_max, 2),
            "foreign_cpu_cores_max": round(self.foreign_cores_max, 2),
            "foreign_jvms_max": self.foreign_jvms_max,
            "steal_s_during_run": round(steal_s, 1),
            "timed_region_s": round(region_s, 1),
            "steal_frac": round(steal_frac, 4),
            "run_clean": self.foreign_cores_max < 0.5
            and self.foreign_jvms_max == 0
            and (
                steal_frac < 0.05
                or (steal_s < 30.0 and region_s >= 300.0)
            ),
        }


# timed passes per headline query; the published per-query number is
# the median, with (max - min) spread alongside
_QUERY_REPS = 3


def _timed_attempt(spark, names: list[str], sf_dir: str) -> dict:
    """One full timed region (queries + both solver benches) under the
    run monitor; returns everything the attempt measured plus its run
    conditions."""
    with _RunMonitor() as mon:
        # Per-query median-of-3 (round-11 verdict #2: q129/q56/q96 moved
        # +15-29% on untouched code with a clean run; single-shot
        # per-query times made local[32] variance and real regressions
        # indistinguishable — only the solver published a median). The
        # three timed passes run ROUND-ROBIN over the full headline list
        # (pass 1 all queries, then pass 2, then pass 3) so slow GC/JIT
        # drift across the timed region lands on every query rather than
        # correlating with list position; per-query spread (max - min)
        # is published alongside so a cross-round delta can be read
        # against the same-run noise band directly.
        # GC + settle BEFORE each timed rep (round-12 verdict #2: the
        # first clean back-to-back pair disagreed 6.9%, and the whole
        # gap was two bimodal queries — q134 reps [5.2, 1.5, 4.6],
        # q143 [5.3, 1.5, 1.4] — a major collection of the previous
        # queries' shuffle garbage landing INSIDE a measured window.
        # Forcing the collection into the untimed gap makes the pause
        # deterministic instead of a coin flip over which query pays).
        jvm_gc = spark.sparkContext._jvm.System.gc
        reps: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(_QUERY_REPS):
            for name in names:
                jvm_gc()
                time.sleep(0.2)
                t0 = time.perf_counter()
                df = REGISTRY[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                reps[name].append(round(time.perf_counter() - t0, 3))
        timings = {n: round(_median(ts), 3) for n, ts in reps.items()}
        spread = {
            n: round(max(ts) - min(ts), 3) for n, ts in reps.items()
        }
        total = round(sum(timings.values()), 3)
        # best + median of 3 timed runs (round-7 verdict #5: best-only
        # inflated the r6->r7 delta; both are now published so
        # cross-round comparisons stay honest)
        solver = _solver_throughput(spark)
        breaking = _breaking_solver_throughput(spark)
    return {
        "value": total,
        "queries": timings,
        "queries_spread": spread,
        "queries_reps": reps,
        **solver,
        **breaking,
        "run_conditions": mon.summary(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    max_attempts = max(
        1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
    )

    preflight = _preflight_idle()
    spark = get_spark("columnarmodeling-bench")
    names = [n for n in HEADLINE if n in REGISTRY]

    # Warmup pass: run every headline query once untimed so the timed
    # pass measures steady-state execution (whole-stage codegen
    # compiled, parquet footers + OS page cache warm) rather than
    # attributing one-time JVM costs to whichever query touches a table
    # first. Standard analytics-bench practice (TPC power runs do the
    # same); the timed numbers below are per-query wall clock on a warm
    # engine.
    for name in names:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # retry-until-clean (r13 verdict item 1): a dirty timed region
    # re-runs up to max_attempts times; the first clean attempt
    # publishes. All attempts land in BENCH_FULL.json either way.
    # When every attempt in the first window is dirty, BACK OFF and
    # retry in later windows (r14 verdict item 1b — steal episodes on
    # this host come and go on multi-minute scales, so a bounded sleep
    # often lands a clean window that three back-to-back attempts
    # cannot): up to $SPARK_GRAFT_BENCH_BACKOFFS extra windows
    # (default 2), sleeping $SPARK_GRAFT_BENCH_BACKOFF_S (default 300)
    # before each.
    max_backoffs = max(
        0, int(os.environ.get("SPARK_GRAFT_BENCH_BACKOFFS", "2"))
    )
    backoff_s = float(os.environ.get("SPARK_GRAFT_BENCH_BACKOFF_S", "300"))
    attempts: list[dict] = []
    for window in range(1 + max_backoffs):
        if window:
            print(
                f"# all {len(attempts)} attempts dirty; backing off "
                f"{backoff_s:.0f}s for window {window + 1}",
                file=sys.stderr,
                flush=True,
            )
            time.sleep(backoff_s)
        for i in range(max_attempts):
            if attempts:
                # settle gap between attempts: collect the previous
                # attempt's shuffle garbage outside any timed window and
                # give a transient co-tenant time to finish
                spark.sparkContext._jvm.System.gc()
                time.sleep(20)
            att = _timed_attempt(spark, names, sf_dir)
            attempts.append(att)
            if att["run_conditions"]["run_clean"]:
                break
        if attempts[-1]["run_conditions"]["run_clean"]:
            break
    clean = [a for a in attempts if a["run_conditions"]["run_clean"]]
    # No clean attempt: publish the LOWEST-STEAL attempt, not the
    # fastest (r14 ADVICE — min-by-value under noise systematically
    # picks the luckiest run; least-interfered is the honest fallback).
    published = (
        clean[0]
        if clean
        else min(
            attempts, key=lambda a: a["run_conditions"]["steal_frac"]
        )
    )
    spark.stop()

    full = {
        "sf": sf,
        "reps": _QUERY_REPS,
        "head": _code_rev(),
        "preflight": preflight,
        "n_attempts": len(attempts),
        "published_attempt": attempts.index(published),
        "attempts": attempts,
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    # CLEANLINESS RATCHET (r14 verdict item 1 — the round-14 close
    # overwrote a committed clean BENCH_FULL with a dirty regen): a
    # dirty run NEVER replaces an existing clean artifact at the same
    # sf. The dirty attempts are preserved in BENCH_FULL_dirty.json
    # for decidability, the clean file stays, and the stdout line
    # republishes the protected clean numbers.
    published, protected = _ratcheted_publish(full, published, full_path)

    # compact stdout line — MUST stay under the driver's 2000-char tail
    # capture or BENCH_rNN.json parses to null (the r12/r13 failure):
    # qNN keys, 2-decimal seconds, no per-rep arrays.
    line = {
        "metric": "headline_queries_total",
        "value": published["value"],
        "unit": "sec",
        "sf": sf,
        "reps": _QUERY_REPS,
        "run_clean": published["run_conditions"]["run_clean"],
        **(
            {}
            if preflight["clean"]
            else {
                "preflight_clean": False,
                "preflight_load1": preflight["load1"],
                "preflight_jvms": preflight["other_jvms"],
            }
        ),
        **({"protected_clean": True} if protected is not None else {}),
        "attempts": len(attempts),
        "steal_s": published["run_conditions"]["steal_s_during_run"],
        "queries": {
            n.split("_")[0]: round(v, 2)
            for n, v in published["queries"].items()
        },
        "solver_particle_steps_per_s": published[
            "solver_particle_steps_per_s"
        ],
        "solver_particle_steps_per_s_median": published[
            "solver_particle_steps_per_s_median"
        ],
        "breaking_solver_particle_steps_per_s": published[
            "breaking_solver_particle_steps_per_s"
        ],
        "breaking_solver_particle_steps_per_s_median": published[
            "breaking_solver_particle_steps_per_s_median"
        ],
        "full": "BENCH_FULL.json",
    }
    out = json.dumps(line, separators=(",", ":"))
    if len(out) > 1900:  # belt-and-braces: never overflow the capture
        line.pop("queries")
        line["queries_in"] = "BENCH_FULL.json"
        out = json.dumps(line, separators=(",", ":"))
    print(out)


def _code_rev() -> str:
    """Identify the code the bench ran: short git rev + dirty flag.
    Lets the cleanliness ratchet distinguish 'dirty regen of the SAME
    code' (protect the clean artifact) from 'new code measured under
    interference' (publish the new dirty numbers — republishing the old
    code's clean numbers would misattribute them to HEAD)."""
    import subprocess

    try:
        root = os.path.dirname(os.path.abspath(__file__))
        rev = subprocess.run(
            ["git", "-C", root, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if not rev:
            return "unknown"
        dirty = subprocess.run(
            ["git", "-C", root, "status", "--porcelain"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        return rev + ("-dirty" if dirty else "")
    except Exception:
        return "unknown"


def _ratcheted_publish(
    full: dict, published: dict, full_path: str
) -> tuple[dict, dict | None]:
    """Write the run's full record, subject to the CLEANLINESS RATCHET
    (r14 verdict item 1): an all-dirty run never replaces an existing
    clean BENCH_FULL.json at the same sf AND the same code revision
    (r16 — a clean artifact from DIFFERENT code must not be republished
    as if it measured HEAD; in that case the honest output is this
    run's lowest-steal dirty numbers, flagged run_clean: false). A
    prior stamped ``<rev>-dirty`` is never protected: every uncommitted
    tree at one HEAD carries that same stamp, so it cannot show that
    the prior measured this run's code. When protection applies, the
    dirty record lands in BENCH_FULL_dirty.json,
    the clean file stays, and the previously-published clean attempt is
    returned as ``protected`` to be republished on stdout. Factored out
    of main() so the branches are unit-testable without a live timed
    region."""
    pub_clean = published["run_conditions"]["run_clean"]
    protected = None
    if not pub_clean and os.path.exists(full_path):
        try:
            with open(full_path) as fh:
                prev = json.load(fh)
            prev_pub = prev["attempts"][prev["published_attempt"]]
            if (
                prev.get("sf") == full.get("sf")
                and prev.get("head") is not None
                and not prev["head"].endswith("-dirty")
                and prev.get("head") == full.get("head")
                and prev_pub["run_conditions"]["run_clean"]
            ):
                protected = prev_pub
        except (KeyError, IndexError, ValueError):
            protected = None
    if protected is not None:
        with open(
            os.path.join(os.path.dirname(full_path), "BENCH_FULL_dirty.json"),
            "w",
        ) as fh:
            json.dump(full, fh, indent=1)
        print(
            "# all attempts dirty; existing clean BENCH_FULL.json kept "
            "(dirty run -> BENCH_FULL_dirty.json), republishing the "
            "protected clean numbers",
            file=sys.stderr,
            flush=True,
        )
        return protected, protected
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    return published, None


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def _solver_throughput(spark) -> dict[str, float]:
    """Halo-exchange block solver at the reference's own scale: 125 000
    particles (spring lattice), 100 explicit-Euler steps. The
    reference's single published number is 2.31M particle-steps/s
    (CPUTime.txt: 500k steps x 125k particles / 27 049.7 s, 28
    threads); this measures our equivalent on local[32]."""
    from columnarmodeling_spark.simulation.solver import run_solver_blocked
    from pyspark.sql import functions as F

    nx, ny, n_steps = 500, 250, 100
    ids = spark.range(nx * ny)
    state = ids.select(
        F.col("id"),
        (F.col("id") % nx).cast("double").alias("x"),
        F.floor(F.col("id") / nx).cast("double").alias("y"),
        F.lit(0.0).alias("vx"),
        F.lit(0.0).alias("vy"),
        F.lit(1.0).alias("m"),
    ).cache()
    right = ids.filter((F.col("id") + 1) % nx != 0).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    down = ids.filter(F.col("id") < nx * (ny - 1)).select(
        F.col("id").alias("src"), (F.col("id") + nx).alias("dst")
    )
    bonds = right.union(down).withColumn("rest", F.lit(0.95)).cache()
    state.count(), bonds.count()
    # warm-up round with the SAME fuse/block as the timed run (one full
    # blocked round), so first-execution costs of the actual plan shape
    # stay out of the timed region (round-5 ADVICE)
    run_solver_blocked(
        state, bonds, 100, k=1.0, dt=0.001, fuse=100, block=250.0, reach=1.1
    ).count()
    # 3 timed runs, reported as best AND median: single-shot GC/
    # compaction jitter on this measure spans ~25% run-to-run (round-7
    # probe: 2.7-3.8M pps on identical inputs). Best is the capability
    # number the jitter obscures; median is the honest typical run
    # (round-7 verdict #5 — best-only overstated the r6->r7 delta).
    dts: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        run_solver_blocked(
            state, bonds, n_steps, k=1.0, dt=0.001, fuse=100, block=250.0,
            reach=1.1,
        ).count()
        dts.append(time.perf_counter() - t0)
    work = nx * ny * n_steps
    return {
        "solver_particle_steps_per_s": round(work / min(dts), 0),
        "solver_particle_steps_per_s_median": round(work / _median(dts), 0),
    }


def _breaking_solver_throughput(spark) -> dict[str, float]:
    """Damage-curve variant of the solver bench (round-4 verdict #7):
    same 125k-particle lattice and 100 steps, but through
    ``run_solver_blocked_breaking`` with the strain limit just above
    the lattice's initial 5.26% pre-strain (rest=0.95 on unit spacing),
    so breaks happen only where dynamic overshoot concentrates stress —
    the per-sub-step strain test, exactly-once emission, anti-join drop
    guard, and alive-set carry are all inside the timed region while
    the bond population stays representative. Reports particle-steps/s
    for the q107 physics so the breaking path has a perf record
    alongside the elastic one."""
    from columnarmodeling_spark.simulation.solver import (
        run_solver_blocked_breaking,
    )
    from pyspark.sql import functions as F

    nx, ny, n_steps = 500, 250, 100
    ids = spark.range(nx * ny)
    state = ids.select(
        F.col("id"),
        (F.col("id") % nx).cast("double").alias("x"),
        F.floor(F.col("id") / nx).cast("double").alias("y"),
        F.lit(0.0).alias("vx"),
        F.lit(0.0).alias("vy"),
        F.lit(1.0).alias("m"),
    ).cache()
    right = ids.filter((F.col("id") + 1) % nx != 0).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    down = ids.filter(F.col("id") < nx * (ny - 1)).select(
        F.col("id").alias("src"), (F.col("id") + nx).alias("dst")
    )
    bonds = right.union(down).withColumn("rest", F.lit(0.95)).cache()
    state.count(), bonds.count()
    # warm-up round with the SAME fuse/block as the timed run (one full
    # blocked round; round-5 ADVICE — the old fuse=2 warm-up left the
    # timed region paying first-execution costs of the real plan shape)
    run_solver_blocked_breaking(
        state, bonds, 100, strain_limit=0.055, k=1.0, dt=0.001,
        fuse=100, block=250.0, reach=1.1,
    )[0].count()
    # 3 timed runs reported as best + median, same rationale as
    # _solver_throughput
    dts: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        final, log = run_solver_blocked_breaking(
            state, bonds, n_steps, strain_limit=0.055, k=1.0, dt=0.001,
            fuse=100, block=250.0, reach=1.1,
        )
        final.count()
        log.count()
        dts.append(time.perf_counter() - t0)
    work = nx * ny * n_steps
    return {
        "breaking_solver_particle_steps_per_s": round(work / min(dts), 0),
        "breaking_solver_particle_steps_per_s_median": round(
            work / _median(dts), 0
        ),
    }


if __name__ == "__main__":
    main()
