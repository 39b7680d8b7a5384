"""Benchmark harness — prints ONE JSON line for the driver.

Headline metric (BASELINE.md): tiles/sec, end-to-end geometry->MVT, on a
deterministic synthetic pages table sized to the sf dir. Also times the
headline operator queries from ``__spark_entry__.queries()`` at
$SPARK_GRAFT_SF_DIR.

Usage:
    python bench.py                 # single run at $SPARK_GRAFT_CPUS
    python bench.py --scaling       # local[8] vs local[32] interleaved
                                    # pairs (one warm --worker subprocess
                                    # per level); writes BENCH/scaling.json
    python bench.py --scaling-slots # the same at task.cpus=2; writes
                                    # BENCH/scaling_slots.json
    python bench.py --e2e-only      # headline pipeline (and its export) only

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: one per core).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# pages per sf for the end-to-end tile benchmark (sandbox stand-in for
# the nominal 10^12-doc table; scales linearly with sf)
PAGES_PER_SF = 1_000_000

BENCH_QUERIES = [
    "tile_assign_points",
    "zoom_rollup",
    "spatial_join_pip",
    "knn_hot",
    "raster_coverage",
    "way_join_agg",
    "topk_per_group",
    "agg_pushdown",
    "dedup_exact",
    "dedup_minhash_lsh",
    "token_stats",
    "quality_score",
    "embedding_topk",
    "embedding_ivf_topk",
    "winnow_fingerprints",
    "area_join_concave",
    "sessionize_events",
    # round-4 additions
    "s2_cells",
    # round-5 addition: H3-style aperture-7 hex encode + codegen rollup
    "h3_cells",
    "html_extract",
    "pii_scrub",
    "simhash_pairs",
    "simhash_pairs_wide",
    "dedup_incremental",
    "span_dedup",
    "decontaminate",
    "decontaminate_fuzzy",
    "lm_corpus_fit",
    # round-5 addition: concat-and-chunk sequence packing
    "pack_chunks",
    # round-5 addition: line-level boilerplate removal
    "boilerplate_lines",
    # round-5 closers: classifier-filter inference, keyword extraction,
    # and the chained HTML -> outlinks -> PageRank flagship
    "classifier_score",
    "tfidf_keywords",
    "link_pipeline",
    # round-5 closers, second wave: curation screens + link/corpus ops
    "extract_links",
    "anchor_terms",
    "url_blocklist",
    "dedup_paragraphs",
    "build_vocab",
    "crawl_delta",
    # round-5 closers, third wave: SemDeDup, DSIR selection, host quota,
    # and the chained curation funnel flagship
    "semantic_dedup",
    "dsir_select",
    "host_quota",
    "curation_funnel",
    "curated_tiles",
    "bpe_merges",
    "bpe_tokenize",
    "warc_scan",
    "url_canonical",
    "token_percentiles",
    "robots_screen",
    "areal_interp",
]


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return -1.0


def _wait_quiet_start() -> float:
    """Bounded pre-bench load gate: wait (poll 20 s) until the 1-min
    load drops below SPARK_GRAFT_BENCH_WAIT_LOAD (default 1.5), up to
    SPARK_GRAFT_BENCH_WAIT_S (default 420 s; 0 disables).

    Rationale: best-of-N retries rescue a burst that lands MID-bench,
    but a bench LAUNCHED into one of this VM's 20-40 min neighbor
    bursts (load 8-25) records contaminated walls for every query
    (round-4 driver record: load ~25, e2e 2.4x slow). The wait happens
    once, before any Spark work, where the 1-min average carries no
    self-load. Returns seconds waited (recorded in the JSON)."""
    gate = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_LOAD", "1.5"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_S", "420"))
    t0 = time.time()
    while budget > 0 and _load1() >= gate and time.time() - t0 < budget:
        time.sleep(20)
    return round(time.time() - t0, 1)


def run_e2e(spark, n_pages: int, workdir: str, repeats: int = 2) -> dict:
    """pages -> features -> feature_tiles -> MVT tiles, fully fresh.

    Best-of-``repeats`` full runs (fresh workdir each): this shared VM's
    neighbor tenant bursts to load 8-13 every 20-30 min, and a burst
    landing mid-run halves the headline for reasons that have nothing
    to do with the engine. The start/end 1-min load is recorded so a
    contaminated artifact is at least *visibly* contaminated."""
    from tilemaker_spark import sinks
    from tilemaker_spark.config import default_config
    from tilemaker_spark.fixtures import make_pages
    from tilemaker_spark.plans.pipeline import TilePipeline

    cfg = default_config()
    pages = make_pages(spark, n_pages)
    best = None
    runs = []
    load_start = _load1()
    # best-of-N with the same burst-adaptive retry as the query loop:
    # when the two walls disagree by >1.5x a neighbor burst likely
    # spanned one (this VM cycles to load 8-17), so take up to
    # repeats+2 runs hunting for a clean window
    while len(runs) < repeats or (min(runs) * 1.5 < sorted(runs)[1]
                                  and len(runs) < repeats + 2):
        shutil.rmtree(workdir, ignore_errors=True)
        pipe = TilePipeline(spark, cfg, workdir=workdir)
        t0 = time.time()
        tiles = pipe.run(pages, force=True)
        n_tiles = pipe.metrics["tiles"]
        dt = time.time() - t0
        runs.append(round(dt, 2))
        tile_stage_s = pipe.metrics["stages"]["tiles"]["seconds"]
        if best is None or dt < best["seconds"]:
            best = {"tiles": n_tiles, "seconds": round(dt, 2),
                    "tiles_per_sec": round(n_tiles / dt, 1),
                    "tile_stage_seconds": tile_stage_s,
                    "tile_stage_tiles_per_sec": round(
                        n_tiles / tile_stage_s, 1),
                    "pages": n_pages}
    # every run's wall time, first = cold (JVM/JIT/page-cache warmup
    # included), so best-of-N is auditable rather than silent
    best["run_seconds"] = runs
    best["load_1min"] = [load_start, _load1()]
    # the last run's PMTiles export, outside the headline
    t0 = time.time()
    sinks.write_pmtiles(tiles, os.path.join(workdir, "export.pmtiles"))
    best["export_s"] = round(time.time() - t0, 2)
    return best


def _geom_features(spark):
    """Coastline-style polygons: 30 x 5k vertices (deterministic)."""
    import numpy as np

    rows = []
    rng = np.random.default_rng(1)
    for i in range(30):
        cx, cy = rng.uniform(-30, 30), rng.uniform(10, 40)
        ang = np.linspace(0, 2 * np.pi, 5000, endpoint=False)
        r = 3.0 * (1 + 0.3 * np.sin(7 * ang) + 0.1 * np.sin(23 * ang))
        ring = np.column_stack([cx + r * np.cos(ang),
                                cy + r * np.sin(ang)]).reshape(-1).tolist()
        rows.append((i, "polys", 3, 0, 0, {}, [ring]))
    return spark.createDataFrame(
        rows, "feature_id long, layer string, geom_type int, min_zoom int, "
              "z_order int, attrs map<string,string>, geom array<array<double>>")


def _geom_cfg(basezoom):
    from tilemaker_spark.config import EngineConfig, LayerConfig

    cfg = EngineConfig(basezoom=basezoom, minzoom=0, maxzoom=basezoom,
                       compress="none", hot_tile_salt=0)
    cfg.layers["polys"] = LayerConfig(name="polys", minzoom=0, maxzoom=14)
    return cfg


def run_e2e_geom(spark) -> dict:
    """Geometry-heavy secondary metric at z0-z11 through the clip-cache
    descent — the workload where it matters (a flat cover measured 93x
    slower at this depth; BENCH/BASELINE.md)."""
    from tilemaker_spark.operators.tile_assembly import assemble_tiles
    from tilemaker_spark.operators.tiling import cover_clip_explode

    feats = _geom_features(spark)
    cfg = _geom_cfg(11)
    dt = None
    for _ in range(2):  # best-of-2 (see run_e2e on neighbor bursts)
        t0 = time.time()
        n = assemble_tiles(cover_clip_explode(feats, cfg.minzoom,
                                              cfg.basezoom), cfg).count()
        dt = min(time.time() - t0, dt or 1e18)
    return {"tiles": n, "seconds": round(dt, 2),
            "tiles_per_sec": round(n / dt, 1)}


def _worker_loop() -> None:
    """--worker: long-lived scaling-pair worker.

    Holds a warm SparkSession (+ warmed JIT/Python workers after one
    discarded run), then executes one fresh-workdir pipeline run per
    "run" line on stdin, answering with one JSON line per run. The
    parent interleaves runs across two workers so each efficiency pair
    compares runs seconds-to-minutes apart — this shared VM's per-core
    speed drifts up to ~2x hour-to-hour, so a lo-batch-then-hi-batch
    protocol can compare different hosts and report nonsense ratios.
    """
    from __spark_entry__ import _tempdir
    from tilemaker_spark.config import default_config
    from tilemaker_spark.fixtures import make_pages
    from tilemaker_spark.plans.pipeline import TilePipeline
    from tilemaker_spark.session import get_spark

    spark = get_spark("bench-worker")
    spark.sparkContext.setLogLevel("ERROR")
    n_pages = int(os.environ["SPARK_GRAFT_BENCH_PAGES"])
    cfg = default_config()
    pages = make_pages(spark, n_pages)
    workdir = _tempdir("bench_worker_")

    def one_run() -> dict:
        shutil.rmtree(workdir, ignore_errors=True)
        load0 = _load1()
        pipe = TilePipeline(spark, cfg, workdir=workdir)
        t0 = time.time()
        pipe.run(pages, force=True)
        dt = time.time() - t0
        n_tiles = pipe.metrics["tiles"]
        stage_s = pipe.metrics["stages"]["tiles"]["seconds"]
        return {"tiles": n_tiles, "seconds": round(dt, 2),
                "tiles_per_sec": round(n_tiles / dt, 1),
                "tile_stage_seconds": stage_s,
                "tile_stage_tiles_per_sec": round(n_tiles / stage_s, 1),
                "pages": n_pages,
                "load_1min": [load0, _load1()]}

    one_run()  # warmup: JVM JIT + Python worker fork pool, discarded
    print("READY", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "run":
            print(json.dumps(one_run()), flush=True)
        elif cmd == "quit":
            break
    spark.stop()


def _spawn_worker(cpus: int, task_cpus: int, pages: int):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_TASK_CPUS=str(task_cpus),
               SPARK_GRAFT_BENCH_PAGES=str(pages))
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--worker"],
        env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, bufsize=1)


# Per-wait deadline on worker output: a wedged Spark stage (shared-VM
# contention, deadlocked shuffle) must fail the bench loudly, not hang
# the unattended session forever (the pre-worker protocol had
# subprocess.run(timeout=3600); keep that bound).
_WORKER_TIMEOUT_S = int(os.environ.get("SPARK_GRAFT_WORKER_TIMEOUT", "3600"))


def _worker_read(p, match, what):
    import threading
    timer = threading.Timer(_WORKER_TIMEOUT_S, p.kill)
    timer.start()
    try:
        for line in p.stdout:
            got = match(line.strip())
            if got is not None:
                return got
    finally:
        timer.cancel()
    raise RuntimeError(
        f"scaling worker {what} (rc={p.poll()}; killed after "
        f"{_WORKER_TIMEOUT_S}s without output if rc is -9)")


def _worker_wait_ready(p) -> None:
    _worker_read(p, lambda s: True if s == "READY" else None,
                 "died during warmup")


def _worker_run(p) -> dict:
    p.stdin.write("run\n")
    p.stdin.flush()
    return _worker_read(
        p, lambda s: json.loads(s) if s.startswith("{") else None,
        "died mid-run")


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    n_pages = int(os.environ.get(
        "SPARK_GRAFT_BENCH_PAGES", max(10_000, int(PAGES_PER_SF * sf))))

    if "--worker" in sys.argv:
        _worker_loop()
        return

    if "--scaling" in sys.argv or "--scaling-slots" in sys.argv:
        # BASELINE.md protocol: same job at two parallelism levels,
        # identical input; efficiency computed on the tile-producing
        # stage's wall time (the compute stage — fixed driver/stage-setup
        # overhead of a sandbox run is not what scales with executors).
        #
        # --scaling:       local[lo] vs local[hi], task.cpus=1 (the
        #                  classic pair; hi=32 oversubscribes: k JVM
        #                  threads + k Python workers on 32 cores).
        # --scaling-slots: task.cpus=2 at BOTH levels, so local[8] = 4
        #                  slots and local[32] = 16 slots — a TRUE 4x
        #                  slot pair whose high level still fits in the
        #                  32 physical cores (16 tasks + 16 Python
        #                  workers). This is the uncontended top-end
        #                  evidence the north rule's N->4N gate wants.
        #
        # Interleaved-pair protocol (round 5): both levels run as
        # long-lived warm workers and measured runs alternate lo, hi,
        # lo, hi, ... so pair i compares runs taken minutes apart.
        # Headline efficiency = the min-combined-stage-wall pair (see
        # below); every pair + per-run loads stays in the artifact.
        slots_mode = "--scaling-slots" in sys.argv
        lo, hi = (int(v) for v in os.environ.get(
            "SPARK_GRAFT_SCALING_LEVELS", "8,32").split(","))
        task_cpus = 2 if slots_mode else 1
        reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "3"))
        pages = 4 * n_pages
        factor = hi / lo
        p_lo = _spawn_worker(lo, task_cpus, pages)
        _worker_wait_ready(p_lo)
        p_hi = _spawn_worker(hi, task_cpus, pages)
        _worker_wait_ready(p_hi)
        # optional load gate: before each measured pair, wait (workers
        # stay warm and idle) until the 1-min load average drops below
        # the threshold — this VM's neighbor bursts run 20-40 min and
        # eat entire fixed-schedule sessions; gating fires pairs only
        # inside the quiet windows between them. 0 disables the gate.
        gate = float(os.environ.get("SPARK_GRAFT_SCALING_WAIT_LOAD", "0"))
        gate_max_s = 900
        pairs = []
        runs = {lo: [], hi: []}
        try:
            for _ in range(reps):
                if gate > 0:
                    t_gate = time.time()
                    while (_load1() >= gate
                           and time.time() - t_gate < gate_max_s):
                        time.sleep(20)
                r_lo = _worker_run(p_lo)
                r_hi = _worker_run(p_hi)
                runs[lo].append(r_lo)
                runs[hi].append(r_hi)
                pairs.append({
                    "efficiency": round(
                        (r_hi["tile_stage_tiles_per_sec"]
                         / r_lo["tile_stage_tiles_per_sec"]) / factor, 3),
                    "efficiency_total_wall": round(
                        (r_hi["tiles_per_sec"]
                         / r_lo["tiles_per_sec"]) / factor, 3),
                    "lo_stage_s": r_lo["tile_stage_seconds"],
                    "hi_stage_s": r_hi["tile_stage_seconds"],
                    "load_1min": r_lo["load_1min"] + r_hi["load_1min"],
                })
        finally:
            for p in (p_lo, p_hi):
                try:
                    p.stdin.write("quit\n")
                    p.stdin.flush()
                except OSError:
                    pass
                p.wait(timeout=60)
        # Headline = the pair with the smallest combined stage wall.
        # Neighbor-tenant contention only ever ADDS time, so the pair
        # where both runs were fastest is the least-contaminated joint
        # observation; a median can be dominated by burst-hit pairs
        # (observed: 2 of 3 pairs under a load-15 burst). Every pair +
        # its load samples stays in the artifact for audit.
        clean = min(pairs, key=lambda p: p["lo_stage_s"] + p["hi_stage_s"])
        med = clean["efficiency"]
        med_total = clean["efficiency_total_wall"]
        effs = sorted(p["efficiency"] for p in pairs)
        best = {k: min(v, key=lambda r: r["seconds"]) for k, v in runs.items()}
        for k in (lo, hi):
            best[k] = dict(best[k])
            best[k]["run_seconds"] = [r["seconds"] for r in runs[k]]
            best[k]["stage_seconds_all"] = [r["tile_stage_seconds"]
                                            for r in runs[k]]
        report = {f"local{lo}": best[lo],
                  f"local{hi}": best[hi],
                  "levels": [lo, hi],
                  "task_cpus": task_cpus,
                  "slots": [lo // task_cpus, hi // task_cpus],
                  "protocol": "interleaved-pairs",
                  "pairs": pairs,
                  "scaling_efficiency": med,
                  "scaling_efficiency_pair": "min-combined-stage-wall",
                  "scaling_efficiency_best_pair": effs[-1],
                  "scaling_efficiency_total_wall": med_total,
                  "sf": sf}
        os.makedirs("BENCH", exist_ok=True)
        out_name = "BENCH/scaling_slots.json" if slots_mode \
            else "BENCH/scaling.json"
        with open(out_name, "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps(report))
        return

    gate_wait_s = _wait_quiet_start()

    from __spark_entry__ import _tempdir
    from tilemaker_spark.session import get_spark
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    e2e = run_e2e(spark, n_pages, _tempdir("bench_run_"))

    e2e_geom = None
    queries: dict = {}
    if "--e2e-only" not in sys.argv:
        e2e_geom = run_e2e_geom(spark)
        # drop any cached state the e2e phases left behind so query
        # timings measure the queries, not storage-memory contention
        spark.catalog.clearCache()
        import __spark_entry__ as entrymod
        qs = entrymod.queries()
        for name in BENCH_QUERIES:
            times = []
            # min-of-2 normally; when the two runs disagree by >1.5x a
            # neighbor-tenant burst likely spanned one of them (this
            # shared VM cycles to load 8-13 every 20-30 min; 3-10x
            # swings observed), so take up to 2 extra repeats hunting
            # for a clean window
            while len(times) < 2 or (min(times) * 1.5 < sorted(times)[1]
                                     and len(times) < 4):
                t0 = time.time()
                # count() forces full execution, no driver materialization
                qdf = qs[name](spark, SF_DIR)
                qdf.count()
                times.append(time.time() - t0)
                # release operator-internal caches BETWEEN runs: Spark's
                # CacheManager matches by analyzed plan, so without this
                # the second run silently reads the first run's persisted
                # intermediates and min-of-N reports a warm-cache number
                for h in getattr(qdf, "_internal_persists", []):
                    h.unpersist()
            queries[name] = round(min(times), 2)

    out = {
        "metric": "tiles/sec (end-to-end geometry->MVT)",
        "value": e2e["tiles_per_sec"],
        "unit": "tiles/sec",
        "queries": queries,
        "sf": sf,
        "e2e": e2e,
        "e2e_geom": e2e_geom,
        "cpus": CPUS,
        "gate_wait_s": gate_wait_s,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
