#!/usr/bin/env python3
"""tilebench: end-to-end benchmark of the tilemaker_spark tile engine.

    python3 tilebench/run.py --workload pages_world --seed 1 --seconds 12 \
        --trace 0

Run from the repository root. One invocation is one closed-loop batch
job in one process: it writes the workload's seeded inputs to parquet,
starts a ``local[nproc]`` session, makes one discarded cold pipeline
run, then ``max(2, round(seconds / WARM_RUN_S))`` measured
``TilePipeline.run(force=True)`` calls, one at a time. The run count is
fixed by ``--seconds``, not by how fast this invocation happens to be:
the engine keeps warming up for several runs, so a speed-dependent
count would shift which runs the median is taken over.

The output check runs outside the timed region: every run's tileset
digest must match, every tile of the last run must decode to its
``n_features``, and for pages workloads the per-zoom feature and tile
counts must equal a DuckDB oracle over the same pages.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
layers one by one (tilebench/trace.py) and prints the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
(``# detail ...``) carries per-run figures, host context and the
tileset digest for comparing two commits.

Everything the run writes (inputs, checkpoints, Spark scratch, the
Spark log and the trace spans) goes under ``.tilebench/`` in the
repository root.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    with open("/proc/self/stat") as f:
        stat = f.read()
    start = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age()  # the process's start

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tilebench.procstat import (RssSampler, tree_cpu_s,  # noqa: E402
                                tree_pids)
from tilebench.workloads import WORKLOADS  # noqa: E402

WARMUP_RUNS = 1       # discarded cold runs after the session starts
WARM_RUN_S = 6.0      # wall of one warm run of either workload, 4 cores
INPUT_REPEATS = 3     # input generation is timed this often; median used
DRIVER_MEM = "1g"     # small heap: fills early, so the JVM's RSS settles
RUN_TIMEOUT_S = 90    # a pipeline run longer than this is cancelled
STOP_NEW_RUNS_S = 120  # process age after which no new run starts
DEADLINE_S = 170      # process age at which everything is killed
KERNEL_ROWS = 25_000  # feature_tiles rows in the kernel sample


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _load1() -> float:
    return os.getloadavg()[0]


class Bench:
    def __init__(self, args, err):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.err = err
        self.work = os.path.join(ROOT, ".tilebench",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.runs = []

    def log(self, msg: str) -> None:
        self.err.write(f"[tilebench {time.perf_counter() - T_START:6.1f}s] "
                       f"{msg}\n")
        self.err.flush()

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from tilebench.inputs import write_inputs

        gen = []
        for _ in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            shutil.rmtree(os.path.join(self.work, "inputs"),
                          ignore_errors=True)
            paths = write_inputs(self.spec, self.args.seed,
                                 os.path.join(self.work, "inputs"))
            gen.append(time.perf_counter() - t0)
        self.input_s = _median(gen)
        self.discarded_s = sum(gen) - self.input_s
        self.paths = paths

        from tilemaker_spark.config import default_config
        from tilemaker_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"tilebench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.slots = self.spark.sparkContext.defaultParallelism
        read = self.spark.read.parquet
        self.frames = {k: read(v) for k, v in paths.items()}
        self.cfg = default_config()
        if "hot_tile_threshold" in self.spec:
            self.cfg.hot_tile_threshold = self.spec["hot_tile_threshold"]
        self.log(f"inputs {self.input_s:.2f}s session {self.session_s:.2f}s")

    # ------------------------------------------------------------ one run
    def run_once(self, kind: str) -> dict:
        """One TilePipeline.run(force=True), timed; the digest of its
        tiles is taken after the clock stops."""
        from tilebench.check import tileset_digest
        from tilemaker_spark.plans.pipeline import TilePipeline

        sc = self.spark.sparkContext
        workdir = os.path.join(self.work, "pipeline")
        f = self.frames
        kw = {}
        if "countries" in f:
            kw["layer_polygons"] = f["countries"]
        if "nodes" in f:
            kw["nodes"], kw["ways"] = f["nodes"], f["ways"]
        rec = {"kind": kind, "ok": False}
        pipe = TilePipeline(self.spark, self.cfg, workdir=workdir)
        timer = threading.Timer(RUN_TIMEOUT_S, sc.cancelAllJobs)
        self.rss.window()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        timer.start()
        try:
            pipe.run(f["pages"], force=True, **kw)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            rec["rss_mb"] = self.rss.window() / 1e6
            rec["tiles"] = pipe.metrics["tiles"]
            rec["stages"] = {k: v["seconds"] for k, v in
                             pipe.metrics["stages"].items()}
            rec.update(tileset_digest(os.path.join(workdir, "tiles")))
            rec["ok"] = rec["tiles"] > 0
        except Exception as e:  # a failed run is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            timer.cancel()
        self.runs.append(rec)
        self.log(f"{kind} run: " + (f"{rec['wall_s']:.2f}s {rec['tiles']} "
                                    f"tiles {rec['cpu_s']:.1f} cpu-s"
                                    if rec["ok"] else rec.get("error", "")))
        return rec

    # ------------------------------------------------------------ check
    def check(self, tiles_dir: str, digest: str) -> None:
        """Decode every tile in ``tiles_dir`` (and, for pages workloads,
        compare per-zoom counts with the oracle); runs whose digest
        differs from ``digest`` or whose output failed fail."""
        from tilebench.check import decode_check, pages_oracle

        bad, got = decode_check(self.spark, tiles_dir, self.cfg.compress)
        n = sum(t for t, _ in got.values())
        ok = bad == 0 and n > 0
        detail = {"decoded": n, "bad_tiles": bad}
        if self.spec.get("pages"):
            want = pages_oracle(self.paths["pages"], self.cfg.minzoom,
                                self.cfg.maxzoom)
            detail["oracle_match"] = got == want
            ok = ok and got == want
            if got != want:
                detail["oracle"] = {"want": want, "got": got}
        for r in self.runs:
            if r["ok"] and (not ok or r.get("digest") != digest):
                r["ok"] = False
                r["error"] = "output check failed"
        self.check_detail = detail

    # ------------------------------------------------------------ modes
    def timed(self) -> dict:
        n_runs = max(2, round(self.args.seconds / WARM_RUN_S))
        measured = []
        for _ in range(n_runs):
            measured.append(self.run_once("measured"))
            if time.perf_counter() - T_START > STOP_NEW_RUNS_S:
                break
        if measured[-1]["ok"]:  # the pipeline workdir holds its tiles
            self.check(os.path.join(self.work, "pipeline", "tiles"),
                       measured[-1]["digest"])
        good = [r for r in measured if r["ok"]]
        attempted = len(self.runs)
        failed = sum(not r["ok"] for r in self.runs)
        return {
            "tiles_per_s": ("tiles/s", _median([r["tiles"] / r["wall_s"]
                                                for r in good])),
            "cpu_s": ("s", _median([r["cpu_s"] for r in good])),
            "peak_rss_mb": ("MB", _median([r["rss_mb"] for r in good])),
            "setup_s": ("s", self.setup_s),
            "tileset_mb": ("MB", _median([r["bytes"] / 1e6 for r in good])),
            "success_rate": ("share", (attempted - failed) / attempted),
        }

    def traced(self) -> dict:
        from tilebench.check import tileset_digest
        from tilebench.sparkstats import StageStats
        from tilebench.trace import (LAYER_METRICS, Tracer, dir_mb,
                                     kernel_split, traced_layers)

        ref = self.run_once("reference")
        m = {"session.start_s": self.session_s}
        stages = ref.get("stages", {})
        for name in ("features", "feature_tiles", "feature_tiles_geom",
                     "tiles"):
            m[f"pipeline.{name}_s"] = stages.get(name, 0.0)
        pipe_dir = os.path.join(self.work, "pipeline")
        if ref["ok"]:
            m["pipeline.driver_s"] = ref["wall_s"] - sum(stages.values())
            m["pipeline.checkpoint_mb"] = sum(
                dir_mb(os.path.join(pipe_dir, n)) for n in stages)
            t0 = time.perf_counter()
            self.spark.read.parquet(os.path.join(pipe_dir, "tiles")) \
                .write.mode("overwrite").parquet(os.path.join(self.work,
                                                              "rewrite"))
            m["pipeline.parquet_write_s"] = time.perf_counter() - t0

        tracer = Tracer()
        rec = {"kind": "traced", "ok": False}
        self.runs.append(rec)
        try:
            res = traced_layers(self.spark, self.frames, self.cfg,
                                os.path.join(self.work, "traced"), tracer,
                                StageStats(self.spark.sparkContext))
            rec.update(tileset_digest(res["tiles"]))
            rec["wall_s"] = res["metrics"]["trace.wall_s"]
            rec["ok"] = True
            m.update(res["metrics"])
            k = kernel_split(self.spark, res["gated"], self.cfg,
                             os.path.join(self.work, "traced"),
                             self.args.seed, KERNEL_ROWS, tracer)
            m.update(k)
            full_kernel_s = k["kernel.wall_s"] / max(k["kernel.sample_share"],
                                                     1e-9)
            m["tile_assembly.udf_tax"] = (m["tile_assembly.wall_s"]
                                          / (full_kernel_s / self.slots))
            m["trace.overhead"] = m["trace.wall_s"] / ref["wall_s"]
        except Exception as e:  # reported as a failed run
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            self.log(f"traced run failed: {rec['error']}")
        tracer.write(os.path.join(ROOT, ".tilebench",
                                  f"spans-{self.args.workload}-"
                                  f"{self.args.seed}.json"))
        if ref["ok"]:
            self.check(os.path.join(pipe_dir, "tiles"), ref["digest"])
        # a failed traced run still reports every metric (as 0), with
        # the failure counted in "failed"
        return {name: (unit, m.get(name, 0.0))
                for name, unit, _ in LAYER_METRICS}


def _kill_tree() -> None:
    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def _stop_spark(bench, err) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process started under this one (the JVM, the pyspark daemon and its
    workers) has ended."""
    from pyspark import SparkContext

    started = tree_pids()[1:]
    spark = getattr(bench, "spark", None)
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:  # killed below
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.2)
    leftover = [p for p in started if _alive(p)]
    if leftover:
        err.write(f"tilebench: killing leftover processes {leftover}\n")
        for pid in leftover:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if proc is not None:
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"tilebench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "tilemaker_spark")):
        print(f"tilebench: no tilemaker_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    os.chdir(ROOT)
    scratch = os.path.join(ROOT, ".tilebench")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # pinned run configuration, through the engine's documented settings
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # keep every file Spark, the JVM and the workers write in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile
    tempfile.tempdir = None

    # Spark and its JVM log to fds 1/2: send those to a log file and keep
    # the real stdout/stderr for the result and progress lines
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    bench = Bench(args, err)
    os.makedirs(bench.work, exist_ok=True)
    log_path = os.path.join(bench.work, "spark.log")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    sys.stdout = os.fdopen(1, "w", buffering=1)
    sys.stderr = os.fdopen(2, "w", buffering=1)

    def deadline():
        err.write("tilebench: deadline reached; killing the run\n")
        err.flush()
        _kill_tree()
        os._exit(3)

    killer = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START),
                             deadline)
    killer.daemon = True
    killer.start()
    load_start = _load1()
    result = None
    try:
        with RssSampler() as rss:
            bench.rss = rss
            bench.setup()
            for _ in range(WARMUP_RUNS):
                bench.run_once("warmup")
            bench.setup_s = (time.perf_counter() - T_START
                             - bench.discarded_s)
            bench.log(f"setup {bench.setup_s:.2f}s")
            metrics = bench.traced() if args.trace else bench.timed()
        failed = sum(not r["ok"] for r in bench.runs)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "nproc": nproc,
            "load_1min": [round(load_start, 2), round(_load1(), 2)],
            "rss_sampler": {"samples": rss.samples,
                            "busy_s": round(rss.busy_s, 3)},
            "check": getattr(bench, "check_detail", None),
            "runs": [{k: (round(v, 3) if isinstance(v, float) else v)
                      for k, v in r.items() if k != "stages"}
                     for r in bench.runs],
        }
        digests = sorted({r["digest"] for r in bench.runs if "digest" in r})
        detail["tileset_digest"] = digests[0] if len(digests) == 1 else digests
        result = {"correct": failed == 0 and bool(bench.runs),
                  "attempted": len(bench.runs), "failed": failed,
                  "metrics": {k: {"value": v, "unit": u}
                              for k, (u, v) in metrics.items()}}
    except Exception as e:
        import traceback
        traceback.print_exc()
        err.write(f"tilebench: {type(e).__name__}: {e} (Spark log: "
                  f"{log_path})\n")
    finally:
        try:
            _stop_spark(bench, err)
        except Exception as e:  # the process tree is killed regardless
            err.write(f"tilebench: stopping Spark: {e}\n")
            _kill_tree()
        killer.cancel()
        if result is not None:
            shutil.rmtree(bench.work, ignore_errors=True)
    if result is None:
        return 1
    out.write("# detail " + json.dumps(detail) + "\n")
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
