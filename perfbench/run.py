#!/usr/bin/env python3
"""Entity-resolution benchmark for globalign_spark on local[nproc].

    python3 perfbench/run.py --workload er_full --seed 1 --seconds 16 --trace 0

Run from the repository root. Every workload drives a production entry
point from this one driver process, on a corpus generated from --seed by
``sources.fixtures.pages_df``:

  er_full          a fresh ``run_pipeline`` batch in a new session: the
                   cost a user pays per spark-submit, JVM warm-up included.
  align_all_pairs  unbanded ``scoring.score_pairs`` over every
                   within-host pair (the ``q_align_pairs`` shape), warm.

With --trace 0 the last stdout line holds the end-to-end metrics. With
--trace 1 the run instead records per-layer spans (event log per job
group, Python UDF profiler per layer) and prints the per-layer metrics.
Every run checks its outputs; the exit code is 1 when a check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"

# er_full: the first ER_PAGES pages (entity order) of a default-shaped
# corpus. The page count is fixed so every seed does the same volume.
ER_ENTITIES, ER_PAGES = 130, 200
# align_all_pairs: one host and a narrowed length range, so the pair set
# (C(ALIGN_PAGES, 2)) and the DP cells per pair barely move across seeds
# (near-duplicate clusters share a length, so a wide range lets the total
# cells swing by 10% from seed to seed).
ALIGN_ENTITIES, ALIGN_PAGES, ALIGN_LEN = 180, 260, (360, 440)
# Passes before timing: the first timed pass after a single warm-up still
# ran about 10% slower than the ones after it.
ALIGN_WARMUP_PASSES = 2
SETUP_REPEATS = 3
# Local mode runs the executors inside the driver heap. The heap is sized
# for this corpus, fixed (-Xms) and pre-touched, so the JVM's share of
# peak RSS does not depend on when the collector chose to grow the heap.
DRIVER_MEM = "2g"
F1_GATE = 0.99
SAMPLE_PAIRS = 12
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"

WORKLOADS = ("er_full", "align_all_pairs")


# ------------------------------------------------------------ process tree
def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, stack = [], list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str) -> int:
    """utime + stime + cutime + cstime from a /proc stat file."""
    with open(stat_path, encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds charged so far to this process and its descendants
    (the driver JVM, the Python daemon and its workers). Workers that
    exited are included through their parent's cutime/cstime."""
    me = os.getpid()
    ticks = 0
    for p in [me, *descendants(me)]:
        with contextlib.suppress(OSError):
            ticks += _cpu_ticks(f"/proc/{p}/stat")
    return ticks / CLK_TCK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the Python daemon and
    the workers it forks count once across them, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak summed PSS of this process and its descendants (the driver
    JVM and the Python workers it forks), sampled from a thread. The
    thread's own CPU time is kept in ``cpu_s`` so CPU measurements of the
    tree can leave it out."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ environment
def configure_env(work: Path, cpus: int) -> None:
    """Process environment the JVM and its Python workers inherit."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # spark-submit's launcher JVM; the driver JVM gets the same flags
    # through spark.driver.extraJavaOptions.
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )


def start_session(work: Path, cpus: int, event_log: bool):
    from globalign_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            # Spark 4 compresses with zstd by default; keep it plain JSON.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process it forked."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # The Python daemon and its workers exit once the JVM is gone.
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(Path(f"/proc/{p}").exists() for p in left):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {left} outlived SIGKILL")
        time.sleep(0.1)


def machine_stamp(cpus: int) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cpus,
        "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "master": f"local[{cpus}]",
        "driver_memory": DRIVER_MEM,
    }


def dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20


# ------------------------------------------------------------ corpus
def write_corpus(spark, workload: str, seed: int, path: Path, cpus: int) -> None:
    """Generate the seeded corpus and materialize it as parquet."""
    from globalign_spark.sources.fixtures import pages_df

    if workload == "align_all_pairs":
        lo, hi = ALIGN_LEN
        pages = pages_df(spark, ALIGN_ENTITIES, seed=seed, n_hosts=1,
                         min_len=lo, max_len=hi)
        n = ALIGN_PAGES
    else:
        pages = pages_df(spark, ER_ENTITIES, seed=seed)
        n = ER_PAGES
    (
        pages.orderBy("entity_id", "variant_id").limit(n).repartition(cpus)
        .write.mode("overwrite").parquet(str(path))
    )
    got = spark.read.parquet(str(path)).count()
    if got != n:
        raise RuntimeError(f"corpus has {got} pages, expected {n}")


# ------------------------------------------------------------ er_full
def er_run(spark, corpus: Path, warehouse: Path, tracer=None) -> float:
    """One batch: read the pages, run the pipeline into a new warehouse."""
    from globalign_spark.pipeline.orchestrator import PipelineConfig, run_pipeline

    t0 = time.perf_counter()
    with tracer.span("normalize") if tracer else contextlib.nullcontext():
        pages = spark.read.parquet(str(corpus))
    run_pipeline(spark, pages, PipelineConfig(warehouse=str(warehouse)))
    return time.perf_counter() - t0


def manifest(warehouse: Path, stage: str) -> dict:
    return json.loads((warehouse / stage / "_MANIFEST.json").read_text())


def stage_df(spark, warehouse: Path, stage: str):
    return spark.read.parquet(str(warehouse / stage / "data"))


def er_evaluate(spark, corpus: Path, warehouse: Path) -> dict:
    """Pairwise F1 of s5_components and blocker quality of s1_candidates
    against the generator's truth, as ``run_pipeline`` computes them when
    given labeled pairs (truth projected onto exact-dedup representatives
    for the blocker)."""
    from pyspark.sql import functions as F

    from globalign_spark.pipeline import metrics
    from globalign_spark.sources.fixtures import labeled_pairs_df

    truth = labeled_pairs_df(spark.read.parquet(str(corpus)))
    comps = stage_df(spark, warehouse, "s5_components")
    prf = metrics.pairwise_prf(metrics.predicted_pairs(comps), truth)
    rep_map = stage_df(spark, warehouse, "s0b_rep_map")
    m1 = rep_map.select(F.col("url").alias("url_1"), F.col("rep_url").alias("r1"))
    m2 = rep_map.select(F.col("url").alias("url_2"), F.col("rep_url").alias("r2"))
    truth_reps = (
        truth.join(m1, "url_1").join(m2, "url_2")
        .where(F.col("r1") != F.col("r2"))
        .select(F.least("r1", "r2").alias("u1"), F.greatest("r1", "r2").alias("u2"))
    )
    n_reps = rep_map.where(F.col("url") == F.col("rep_url")).count()
    bq = metrics.blocking_quality(
        stage_df(spark, warehouse, "s1_candidates"), truth_reps, n_reps
    ).first()
    return {
        "f1": prf["f1"],
        "precision": prf["precision"],
        "recall": prf["recall"],
        "n_truth_pairs": prf["n_truth"],
        "pair_completeness": bq["pair_completeness"],
        "pair_quality": bq["pair_quality"],
    }


def components_equal(spark, wh_a: Path, wh_b: Path) -> bool:
    a = stage_df(spark, wh_a, "s5_components").select("id", "component")
    b = stage_df(spark, wh_b, "s5_components").select("id", "component")
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ------------------------------------------------------------ align_all_pairs
def align_pairs(spark, corpus: Path):
    """Every within-host pair (id_1 < id_2) with both texts: the
    q_align_pairs broadcast self-join."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(str(corpus)).select(
        "url",
        F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host"),
        "text",
    )
    a = d.repartition(spark.sparkContext.defaultParallelism * 2).select(
        F.col("url").alias("id_1"), "host", F.col("text").alias("text_1")
    )
    b = d.select(F.col("url").alias("id_2"), "host", F.col("text").alias("text_2"))
    return a.join(F.broadcast(b), "host").where(F.col("id_1") < F.col("id_2"))


def align_run(spark, corpus: Path, out: Path,
              transport_probe: bool = False) -> float:
    from globalign_spark.config import unit_cost_params
    from globalign_spark.pipeline.scoring import score_pairs

    t0 = time.perf_counter()
    scored = score_pairs(
        align_pairs(spark, corpus), unit_cost_params(),
        transport_probe=transport_probe,
    )
    (
        scored.select("id_1", "id_2", "len_1", "len_2", "cost", "score", "oversize")
        .write.mode("overwrite").parquet(str(out))
    )
    return time.perf_counter() - t0


def align_check(spark, corpus: Path, out: Path, seed: int, n_pairs: int) -> dict:
    """Pair count against the blocked join, a seeded sample of costs
    against the scalar reference-parity path, and pairwise F1 of the
    thresholded pairs against the generator's truth."""
    from pyspark.sql import functions as F

    from globalign_spark.config import unit_cost_params
    from globalign_spark.kernel import align_full
    from globalign_spark.pipeline import metrics
    from globalign_spark.sources.fixtures import labeled_pairs_df

    scored = spark.read.parquet(str(out))
    n_scored, n_oversize, cells = scored.agg(
        F.count("*"),
        F.count_if("oversize"),
        F.sum(F.col("len_1") * F.col("len_2")),
    ).first()
    n_join = align_pairs(spark, corpus).count()
    texts = {
        r.url: r.text
        for r in spark.read.parquet(str(corpus)).select("url", "text").collect()
    }
    sample = (
        scored.orderBy(F.xxhash64("id_1", "id_2", F.lit(seed)))
        .limit(SAMPLE_PAIRS).collect()
    )
    params = unit_cost_params()
    mismatches = 0
    for r in sample:
        ref = align_full(texts[r.id_1], texts[r.id_2], params)
        if (int(ref["cost"]), int(ref["score"])) != (r.cost, r.score):
            mismatches += 1
    pred = scored.where(
        1.0 - F.col("cost") / F.greatest("len_1", "len_2") >= 0.8
    ).select("id_1", "id_2")
    truth = labeled_pairs_df(spark.read.parquet(str(corpus)))
    prf = metrics.pairwise_prf(pred, truth)
    bq = metrics.blocking_quality(
        scored.select("id_1", "id_2"), truth, len(texts)
    ).first()
    return {
        "n_scored": n_scored,
        "n_join": n_join,
        "n_expected": n_pairs,
        "n_oversize": n_oversize,
        "sample": len(sample),
        "sample_mismatches": mismatches,
        "f1": prf["f1"],
        "pair_completeness": bq["pair_completeness"],
        "cells": int(cells),
        "ok": (
            n_scored == n_join == n_pairs
            and n_oversize == 0
            and len(sample) == SAMPLE_PAIRS
            and mismatches == 0
        ),
    }


# ------------------------------------------------------------ runs
class Bench:
    def __init__(self, args, work: Path, cpus: int):
        self.args = args
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.corpus = work / "corpus"
        self.pages = ALIGN_PAGES if args.workload == "align_all_pairs" else ER_PAGES
        self.pairs = math.comb(self.pages, 2)

    def setup(self) -> tuple[float, list[float], float]:
        """Start the session, generate the corpus SETUP_REPEATS times and
        warm up. Returns (session start, corpus repeats, warm-up)."""
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.cpus, bool(self.args.trace))
        session_s = time.perf_counter() - t0
        repeats = []
        for _ in range(1 if self.args.trace else SETUP_REPEATS):
            t0 = time.perf_counter()
            write_corpus(self.spark, self.args.workload, self.args.seed,
                         self.corpus, self.cpus)
            repeats.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        if self.args.workload == "align_all_pairs":
            # The first passes pay for JIT compilation and worker start-up.
            for i in range(ALIGN_WARMUP_PASSES):
                align_run(self.spark, self.corpus, self.work / f"warmup{i}")
        return session_s, repeats, time.perf_counter() - t0

    def iterate(self, one_run):
        """Whole runs until --seconds have passed (at least one). Returns
        (walls, CPU seconds per run, attempted, failed, peak MB)."""
        walls, cpus, attempted, failed = [], [], 0, 0
        t_end = time.perf_counter() + self.args.seconds
        with PeakRss() as rss:
            while attempted == 0 or time.perf_counter() < t_end:
                attempted += 1
                c0 = tree_cpu_s() - rss.cpu_s
                try:
                    walls.append(one_run(attempted))
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    break
                cpus.append(tree_cpu_s() - rss.cpu_s - c0)
        return walls, cpus, attempted, failed, rss.peak / 2**20

    def e2e(self) -> tuple[dict, dict, bool, int, int]:
        session_s, setups, warmup_s = self.setup()
        if self.args.workload == "er_full":
            def one(i):
                return er_run(self.spark, self.corpus, self.work / f"wh{i}")
        else:
            def one(i):
                return align_run(self.spark, self.corpus, self.work / f"out{i}")
        walls, cpus, attempted, failed, peak_mb = self.iterate(one)
        detail = {
            "session_start_s": session_s,
            "corpus_setup_samples_s": setups,
            "warmup_s": warmup_s,
            "wall_samples_s": walls,
            "cpu_samples_s": cpus,
        }
        if not walls:
            return {}, detail, False, attempted, failed
        last = attempted - failed
        if self.args.workload == "er_full":
            wh = self.work / f"wh{last}"
            check = er_evaluate(self.spark, self.corpus, wh)
            ok = check["f1"] >= F1_GATE
            detail["banding_plan"] = manifest(wh, "s1_candidates").get("banding_plan")
        else:
            wh = self.work / f"out{last}"
            check = align_check(self.spark, self.corpus, wh, self.args.seed, self.pairs)
            ok = check["ok"]
        detail["check"] = check
        values = {
            "setup_s": session_s + statistics.median(setups) + warmup_s,
            "cpu_s": statistics.median(cpus),
            "f1": check["f1"],
            "pair_completeness": check["pair_completeness"],
            "peak_rss_mb": peak_mb,
            "warehouse_mb": dir_mb(wh),
        }
        return values, detail, ok and failed == 0, attempted, failed

    # ---------------------------------------------------------- traced
    def traced(self) -> tuple[dict, dict, bool, int, int]:
        self.setup()
        if self.args.workload == "er_full":
            return self._traced_er()
        return self._traced_align()

    def _profiled(self, fn):
        self.spark.conf.set(PROFILER_CONF, "perf")
        try:
            return fn()
        finally:
            self.spark.conf.unset(PROFILER_CONF)

    def _traced_er(self):
        from pyspark.sql import functions as F
        from tracing import LAYERS, Tracer

        spark, work = self.spark, self.work
        wh = work / "wh_traced"
        # The traced batch is cold, as in the untraced er_full measurement,
        # so its spans break down that wall.
        tb = Tracer(spark, "full", profile_dir=work / "profile")
        with tb.installed():
            t0 = time.perf_counter()
            traced_wall = self._profiled(
                lambda: er_run(spark, self.corpus, wh, tb))
            t1 = time.perf_counter()
        te = Tracer(spark, "full")
        with te.installed():
            check = er_evaluate(spark, self.corpus, wh)
        # er_resume: a run killed during scoring, resumed from the stages
        # written before it. It runs untraced, then traced; the pair gives
        # the tracing overhead (a cold untraced twin of the full batch would
        # need a second JVM).
        tr = Tracer(spark, "resume", profile_dir=work / "profile_resume")
        resume_wall = {}
        for mode in ("untraced", "traced"):
            wr = work / f"wh_resume_{mode}"
            for stage in ("s0_normalized", "s0b_rep_map", "s1_signatures",
                          "s1_candidates"):
                shutil.copytree(wh / stage, wr / stage)
            if mode == "untraced":
                resume_wall[mode] = er_run(spark, self.corpus, wr)
                continue
            with tr.installed():
                r0 = time.perf_counter()
                resume_wall[mode] = self._profiled(
                    lambda: er_run(spark, self.corpus, wr, tr))
                r1 = time.perf_counter()
        resume_equal = all(
            components_equal(spark, wh, work / f"wh_resume_{m}")
            for m in resume_wall
        )

        s3_row = stage_df(spark, wh, "s3_scores").agg(
            F.count("*").alias("n"),
            F.sum(F.col("len_1") * F.col("len_2")).alias("cells"),
            F.sum(F.col("over_band").cast("long")).alias("over_band"),
        ).first()
        rows = {s: manifest(wh, s)["rows"] for s in (
            "s0_normalized", "s1_signatures", "s1_candidates", "s3_scores",
            "s4_edges", "s4b_rescue_edges", "s5_components")}
        plan = manifest(wh, "s1_candidates").get("banding_plan") or {}
        rescue = manifest(wh, "s4b_rescue_edges")["rescue_bucket_stats"]
        shutdown_spark(spark)
        self.spark = None

        walls = tb.layer_walls(t0, t1)
        walls["metrics"] = sum(te.layer_walls(0, math.inf).values())
        groups = self._event_groups()
        rows_out = {
            "normalize": rows["s0_normalized"],
            "blocking.signatures": rows["s1_signatures"],
            "blocking.choose_banding": int(
                plan.get("truth_mass", 0) + plan.get("bg_mass", 0)),
            "blocking.lsh": rows["s1_candidates"],
            "scoring": rows["s3_scores"],
            "blocking.rescue": rows["s4b_rescue_edges"],
            "clustering": rows["s5_components"],
            "metrics": check["n_truth_pairs"],
        }
        values = self._layer_values(LAYERS, walls, rows_out, groups, "full")
        covered = sum(v for k, v in walls.items() if k != "metrics")
        # Harvesting the profiler between spans is tracing overhead, not
        # orchestrator work.
        traced_wall -= tb.harvest_s
        py = tb.python_s
        kernel_s = py.get(("scoring", "kernel"), 0.0)
        screened_in = rescue["n_probe_collisions"] - rescue["n_screened_out"]
        r_walls = tr.layer_walls(r0, r1)
        values.update({
            "orchestrator.wall_s": traced_wall,
            "orchestrator.unattributed.wall_s": traced_wall - covered,
            "trace.coverage": covered / traced_wall,
            "trace.traced_wall_s": resume_wall["traced"],
            "trace.untraced_wall_s": resume_wall["untraced"],
            "trace.overhead_s": resume_wall["traced"] - resume_wall["untraced"],
            "kernel.python_s": kernel_s,
            "kernel.python_total_s": sum(
                v for (_, c), v in py.items() if c == "kernel"),
            "scoring.python_s": py.get(("scoring", "scoring"), 0.0),
            "blocking.signatures.python_s": py.get(
                ("blocking.signatures", "signatures"), 0.0),
            "scoring.cells_per_s": (
                s3_row["cells"] / kernel_s if kernel_s else 0.0),
            "scoring.edge_yield": rows["s4_edges"] / max(1, rows["s3_scores"]),
            "scoring.over_band_share": s3_row["over_band"] / max(1, s3_row["n"]),
            "scoring.transport_s": 0.0,
            "blocking.pair_quality": check["pair_quality"],
            "blocking.rescue.edge_yield": (
                rows["s4b_rescue_edges"] / max(1, screened_in)),
            "resume.wall_s": resume_wall["untraced"],
            "resume.scoring.wall_s": r_walls.get("scoring", 0.0),
            "resume.blocking.rescue.wall_s": r_walls.get("blocking.rescue", 0.0),
            "resume.clustering.wall_s": r_walls.get("clustering", 0.0),
            "resume.unattributed.wall_s": (
                resume_wall["traced"] - tr.harvest_s - sum(r_walls.values())),
        })
        detail = {
            "check": check,
            "resume_equal": resume_equal,
            "banding_plan": plan,
            "stage_rows": rows,
            "spans": {k: round(v, 4) for k, v in walls.items()},
            "resume_spans": {k: round(v, 4) for k, v in r_walls.items()},
        }
        ok = check["f1"] >= F1_GATE and resume_equal
        return values, detail, ok, 1, 0

    def _traced_align(self):
        from tracing import LAYERS, Tracer

        spark, work = self.spark, self.work
        tb = Tracer(spark, "align", profile_dir=work / "profile")
        with tb.span("scoring"):
            self._profiled(
                lambda: align_run(spark, self.corpus, work / "out_traced"))
        untraced_wall = align_run(spark, self.corpus, work / "out_untraced")
        transport_wall = align_run(spark, self.corpus, work / "out_probe",
                                   transport_probe=True)
        te = Tracer(spark, "align")
        with te.installed():
            check = align_check(spark, self.corpus, work / "out_traced",
                                self.args.seed, self.pairs)
        shutdown_spark(spark)
        self.spark = None

        walls = tb.layer_walls(0, math.inf)
        walls["metrics"] = sum(te.layer_walls(0, math.inf).values())
        rows_out = {"scoring": check["n_scored"], "metrics": check["n_expected"]}
        values = self._layer_values(
            LAYERS, walls, rows_out, self._event_groups(), "align")
        py = tb.python_s
        kernel_s = py.get(("scoring", "kernel"), 0.0)
        # The scoring span is the whole pass.
        traced_wall = covered = walls["scoring"]
        values.update({
            "orchestrator.wall_s": traced_wall,
            "orchestrator.unattributed.wall_s": traced_wall - covered,
            "trace.coverage": covered / traced_wall,
            "trace.traced_wall_s": traced_wall,
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
            "kernel.python_s": kernel_s,
            "kernel.python_total_s": kernel_s,
            "scoring.python_s": py.get(("scoring", "scoring"), 0.0),
            "blocking.signatures.python_s": 0.0,
            "scoring.cells_per_s": check["cells"] / kernel_s if kernel_s else 0.0,
            "scoring.edge_yield": 0.0,
            "scoring.over_band_share": 0.0,
            "scoring.transport_s": transport_wall,
            "blocking.pair_quality": 0.0,
            "blocking.rescue.edge_yield": 0.0,
            "resume.wall_s": 0.0,
            "resume.scoring.wall_s": 0.0,
            "resume.blocking.rescue.wall_s": 0.0,
            "resume.clustering.wall_s": 0.0,
            "resume.unattributed.wall_s": 0.0,
        })
        detail = {"check": check, "spans": {k: round(v, 4) for k, v in walls.items()}}
        return values, detail, check["ok"], 1, 0

    def _event_groups(self) -> dict:
        from eventlog import find_log, group_task_metrics

        return group_task_metrics(find_log(self.work / "eventlog"))

    @staticmethod
    def _layer_values(layers, walls, rows_out, groups, tag) -> dict:
        from eventlog import FIELDS

        values = {}
        for layer in layers:
            g = groups.get(f"{tag}|{layer}", {})
            values[f"{layer}.wall_s"] = walls.get(layer, 0.0)
            values[f"{layer}.rows_out"] = rows_out.get(layer, 0)
            for field in FIELDS:
                values[f"{layer}.{field}"] = g.get(field, 0.0)
        return values


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "globalign_spark" / "__init__.py").is_file():
        print(f"perfbench: no globalign_spark package under {ROOT}; run from "
              "a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}

    cpus = len(os.sched_getaffinity(0))
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work, cpus)
    bench = Bench(args, work, cpus)
    try:
        if args.trace:
            values, detail, ok, attempted, failed = bench.traced()
            names = [m["name"] for m in spec["per_layer"]]
        else:
            values, detail, ok, attempted, failed = bench.e2e()
            names = [m["name"] for m in spec["end_to_end"]]
    finally:
        shutdown_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run is live
            WORK_ROOT.rmdir()
    missing = [n for n in names if n not in values]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        ok = False
    stamp = {
        **machine_stamp(cpus),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "pages": bench.pages,
        "pairs": bench.pairs,
    }
    print(json.dumps({"stamp": stamp, "detail": detail}, default=str))
    print(json.dumps({
        "correct": bool(ok),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": values[n], "unit": units[n]} for n in names if n in values
        },
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
