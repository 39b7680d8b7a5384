"""CLI surface (options-parser parity, src/options_parser.cpp:20-43)."""

import json
import os

import pytest

from tilemaker_spark import cli

MONACO = "/root/reference/test/monaco.pbf"


def test_cli_pages_to_mbtiles(spark, tmp_path):
    out = str(tmp_path / "out.mbtiles")
    store = str(tmp_path / "store")
    m = cli.main(["/root/testdata/sf0.001", "--output", out,
                  "--store", store, "--quiet", "--force"], spark=spark)
    assert m["written"] and os.path.exists(out)
    from tilemaker_spark import sinks
    back = sinks.read_mbtiles(spark, out)
    assert back.count() == m["written"]


def test_cli_bbox_and_config(spark, tmp_path):
    cfgp = str(tmp_path / "config.json")
    with open(cfgp, "w") as f:
        json.dump({"settings": {"basezoom": 8, "maxzoom": 8}}, f)
    out = str(tmp_path / "t.pmtiles")
    m = cli.main(["/root/testdata/sf0.001", "--output", out,
                  "--config", cfgp, "--bbox=-20,30,40,60",
                  "--store", str(tmp_path / "s"), "--quiet", "--force"],
                 spark=spark)
    assert os.path.exists(out)
    from tilemaker_spark import sinks
    zs = {r.z for r in sinks.read_pmtiles(spark, out).select("z").collect()}
    assert max(zs) <= 8


def test_cli_merge(spark, tmp_path):
    out = str(tmp_path / "m.mbtiles")
    a = cli.main(["/root/testdata/sf0.001", "--output", out,
                  "--store", str(tmp_path / "s1"), "--quiet", "--force"],
                 spark=spark)
    b = cli.main(["/root/testdata/sf0.001", "--output", out, "--merge",
                  "--store", str(tmp_path / "s1"), "--quiet"],
                 spark=spark)
    from tilemaker_spark import sinks
    assert sinks.read_mbtiles(spark, out).count() == a["written"]


@pytest.mark.skipif(not os.path.exists(MONACO),
                    reason="monaco fixture unavailable")
def test_cli_pbf_with_process_profile(spark, tmp_path):
    from tilemaker_spark.operators.profile_compiler import EXAMPLE_PROFILE
    prof = str(tmp_path / "profile.json")
    with open(prof, "w") as f:
        json.dump(EXAMPLE_PROFILE, f)
    cfgp = str(tmp_path / "config.json")
    with open(cfgp, "w") as f:
        json.dump({"settings": {"basezoom": 13, "minzoom": 12,
                                "maxzoom": 13}}, f)
    out = str(tmp_path / "monaco")
    m = cli.main([MONACO, "--output", out, "--process", prof,
                  "--config", cfgp, "--store", str(tmp_path / "s"),
                  "--quiet", "--force"], spark=spark)
    assert m["written"] > 0
    assert os.path.exists(os.path.join(out, "metadata.json"))


def test_cli_table_plus_input_conflict(tmp_path):
    """--table alongside a file input would be silently dropped (the
    file wins the pages slot) — the parser must refuse instead."""
    with pytest.raises(SystemExit):
        cli.main([str(tmp_path), "--table", "cat.db.pages", "--quiet"])


def test_bench_worker_watchdog_kills_wedged_worker(monkeypatch):
    """A worker that stops producing output must fail the scaling bench
    within the watchdog deadline, not hang it forever."""
    import subprocess
    import sys
    import time

    import bench

    p = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(60)"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1)
    monkeypatch.setattr(bench, "_WORKER_TIMEOUT_S", 1)
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="warmup"):
        bench._worker_wait_ready(p)
    assert time.monotonic() - t0 < 10
    assert p.poll() is not None  # watchdog killed it


def test_bench_start_gate_waits_and_respects_budget(monkeypatch):
    """The pre-bench load gate polls until the load drops below the gate
    and never exceeds its budget (disabled entirely at budget 0)."""
    import bench

    # disabled: returns immediately even under "load"
    monkeypatch.setattr(bench, "_load1", lambda: 99.0)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WAIT_S", "0")
    assert bench._wait_quiet_start() < 1.0

    # quiet host: no wait
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WAIT_S", "420")
    monkeypatch.setattr(bench, "_load1", lambda: 0.1)
    assert bench._wait_quiet_start() < 1.0

    # busy then quiet: waits one poll interval, then proceeds
    loads = iter([9.0, 9.0, 0.2])
    monkeypatch.setattr(bench, "_load1", lambda: next(loads, 0.2))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    assert bench._wait_quiet_start() < 1.0

    # permanently busy: bounded by the wall-clock budget, not infinite
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WAIT_S", "0.2")
    monkeypatch.setattr(bench, "_load1", lambda: 50.0)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    waited = bench._wait_quiet_start()
    assert 0.2 <= waited < 5.0  # returned right at the budget edge


def test_bench_stdout_is_one_json_line(tmp_path):
    """The driver records bench.py's stdout as ONE JSON line — any stray
    print would corrupt BENCH_r{N}.json. Smoke the real subprocess at
    tiny scale (gate disabled) and pin the contract keys. The run keeps
    its pipeline workdir under a fresh TMPDIR, removes it at exit, and
    no longer writes the fixed /tmp/bench_run_{cpus} workdir."""
    import json
    import os
    import subprocess
    import sys

    legacy = "/tmp/bench_run_4"

    def stat(path):
        if not os.path.exists(path):
            return None
        st = os.stat(path)
        return st.st_ino, st.st_mtime_ns

    legacy_before = stat(legacy)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ,
               TMPDIR=str(tmp),
               SPARK_GRAFT_BENCH_WAIT_S="0",
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_BENCH_PAGES="2000",
               SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "..",
                                      "bench.py"), "--e2e-only"],
        capture_output=True, text=True, timeout=420, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"expected ONE JSON line, got {len(lines)}"
    d = json.loads(lines[0])
    for key in ("metric", "value", "unit", "queries", "sf", "e2e",
                "gate_wait_s"):
        assert key in d, key
    assert d["unit"] == "tiles/sec" and d["value"] > 0
    assert d["e2e"]["export_s"] > 0
    assert sorted(os.listdir(tmp)) == []
    assert stat(legacy) == legacy_before, "bench wrote the fixed workdir"


def test_cli_warc_input(spark, tmp_path):
    """A .warc.gz positional input drives the full pipeline: records ->
    extracted-text pages (xxhash64 doc ids) -> tiles; extraction
    round-trips the source text byte-identically per url."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").collect())
    from tilemaker_spark.sources import pages_from_warc, write_warc
    p = str(tmp_path / "crawl.warc.gz")
    write_warc(p, ((f"https://site.example/p/{r.doc_id}",
                    "2024-01-01T00:00:00Z",
                    f"<html><body><p>{r.text}</p></body></html>".encode())
                   for r in docs))
    pages = pages_from_warc(spark, p)
    got = {r.url: r.text for r in pages.collect()}
    assert got == {f"https://site.example/p/{r.doc_id}": r.text
                   for r in docs}
    assert pages.filter("warc_ts IS NULL OR doc_id IS NULL").count() == 0

    out = str(tmp_path / "w.mbtiles")
    m = cli.main([p, "--output", out, "--store", str(tmp_path / "s"),
                  "--quiet", "--force"], spark=spark)
    assert m["written"] > 0 and os.path.exists(out)
    from tilemaker_spark import sinks
    assert sinks.read_mbtiles(spark, out).count() == m["written"]
