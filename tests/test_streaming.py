"""Incremental tileset maintenance (Structured Streaming foreachBatch)."""

import gzip
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.config import default_config
from tilemaker_spark.fixtures import make_pages
from tilemaker_spark.functions import mvt
from tilemaker_spark.streaming.incremental import (
    read_current_tiles,
    start_incremental,
)


@pytest.fixture()
def dirs(tmp_path):
    pages_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "tiles_state")
    os.makedirs(pages_dir)
    return pages_dir, workdir


def _cfg():
    cfg = default_config()
    # pages features carry min_zoom=10 for this synthetic text length
    cfg.basezoom = 10
    cfg.compress = "none"
    return cfg


def _write_batch(spark, pages_dir, lo, hi, name):
    df = make_pages(spark, hi).filter(F.col("doc_id") >= lo)
    df.coalesce(1).write.mode("overwrite").parquet(f"{pages_dir}/_stage_{name}")
    # move the parquet file in atomically (file-source semantics)
    src = [f for f in os.listdir(f"{pages_dir}/_stage_{name}")
           if f.endswith(".parquet")][0]
    shutil.move(f"{pages_dir}/_stage_{name}/{src}", f"{pages_dir}/{name}.parquet")
    shutil.rmtree(f"{pages_dir}/_stage_{name}")


def _total_features(spark, workdir):
    tiles = read_current_tiles(spark, workdir)
    if tiles is None:
        return 0, 0
    rows = tiles.collect()
    n_feat = 0
    for r in rows:
        dec = mvt.decode_tile(bytes(r.tile))
        for ld in dec.values():
            n_feat += len(ld["features"])
    return len(rows), n_feat


def test_incremental_two_batches(spark, dirs):
    pages_dir, workdir = dirs
    cfg = _cfg()
    cfg.layers["pages"].minzoom = 0

    _write_batch(spark, pages_dir, 0, 50, "batch0")
    q = start_incremental(spark, pages_dir, workdir, cfg)
    q.awaitTermination(120)
    n_tiles_1, n_feat_1 = _total_features(spark, workdir)
    assert n_tiles_1 > 0

    _write_batch(spark, pages_dir, 50, 100, "batch1")
    q = start_incremental(spark, pages_dir, workdir, cfg)
    q.awaitTermination(120)
    n_tiles_2, n_feat_2 = _total_features(spark, workdir)

    # second snapshot contains the union of both batches' features
    assert n_feat_2 > n_feat_1
    assert n_tiles_2 >= n_tiles_1


def test_exactly_once_across_restart(spark, dirs):
    """Re-starting the stream with no new files must not re-merge."""
    pages_dir, workdir = dirs
    cfg = _cfg()
    cfg.layers["pages"].minzoom = 0

    _write_batch(spark, pages_dir, 0, 40, "b0")
    q = start_incremental(spark, pages_dir, workdir, cfg)
    q.awaitTermination(120)
    _, n_feat_1 = _total_features(spark, workdir)

    q = start_incremental(spark, pages_dir, workdir, cfg)  # no new input
    q.awaitTermination(120)
    _, n_feat_2 = _total_features(spark, workdir)
    assert n_feat_2 == n_feat_1  # checkpoint prevented double-processing


def test_batch_commits_the_pipeline_tiles(spark, dirs, tmp_path):
    """A micro-batch commits exactly what TilePipeline.run makes of the
    same pages, bytes included: the bbox prune drops out-of-box tiles
    and the hot city-center tiles take the salted assembly."""
    from tilemaker_spark.functions.coords import (lat2tiley_np,
                                                  lon2tilex_np)
    from tilemaker_spark.plans.pipeline import TilePipeline

    pages_dir, workdir = dirs
    cfg = _cfg()
    bbox = [-75.0, 39.8, -73.0, 41.5]  # around the hot "city"
    cfg.bounding_box = bbox
    cfg.hot_tile_threshold = 3
    _write_batch(spark, pages_dir, 0, 120, "b0")
    q = start_incremental(spark, pages_dir, workdir, cfg)
    q.awaitTermination(180)
    got = {(r.z, r.x, r.y): bytes(r.tile)
           for r in read_current_tiles(spark, workdir).collect()}

    pipe = TilePipeline(spark, cfg, workdir=str(tmp_path / "batch"))
    want = {(r.z, r.x, r.y): (bytes(r.tile), r.n_features)
            for r in pipe.run(spark.read.parquet(pages_dir),
                              force=True).collect()}
    assert got == {k: t for k, (t, _) in want.items()}
    # salted: some tile holds more features than the threshold
    assert max(n for _, n in want.values()) > cfg.hot_tile_threshold
    x0, x1 = lon2tilex_np([bbox[0], bbox[2]], cfg.basezoom)
    y0, y1 = lat2tiley_np([bbox[3], bbox[1]], cfg.basezoom)
    assert got and all(x0 <= x <= x1 and y0 <= y <= y1
                       for z, x, y in got if z == cfg.basezoom)


def test_windowed_tile_counts_streaming(spark, tmp_path_factory):
    """Real readStream run of the watermarked windowed aggregation:
    append mode emits only watermark-finalized windows, and the result
    matches the batch run of the same transformation."""
    import os
    from tilemaker_spark.fixtures import make_pages
    from tilemaker_spark.streaming.windowed import windowed_tile_counts

    d = tmp_path_factory.mktemp("wstream")
    src = str(d / "pages")
    os.makedirs(src)
    pages = make_pages(spark, 2000)
    pages.coalesce(2).write.mode("overwrite").parquet(src)

    stream = (spark.readStream
              .schema(pages.schema)
              .parquet(src))
    agg = windowed_tile_counts(stream, zoom=6, window="10 minutes",
                               watermark="5 minutes")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.win_epoch if hasattr(r, "win_epoch") else r.win_start,
            r.x, r.y): (r.n_pages, r.min_doc)
           for r in spark.sql("SELECT * FROM win_counts").collect()}

    batch = windowed_tile_counts(pages, zoom=6, window="10 minutes")
    want = {(r.win_start, r.x, r.y): (r.n_pages, r.min_doc)
            for r in batch.collect()}
    assert got == want
    assert len(want) > 10


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap closure plus
    event-time-timeout eviction across microbatches; semantics match
    the batch sessionize_events oracle twin."""
    import time

    from tilemaker_spark.streaming.stateful import (
        OUTPUT_SCHEMA, sessionize_stream)

    src = str(tmp_path / "events_in")
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    t0 = 1_700_000_000

    def write_events(name, rows):
        df = spark.createDataFrame(rows, "user_id long, ts long") \
            .withColumn("event_ts", F.col("ts").cast("timestamp")) \
            .drop("ts")
        stage = f"{src}/_st_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        f = [x for x in os.listdir(stage) if x.endswith(".parquet")][0]
        shutil.move(f"{stage}/{f}", f"{src}/{name}.parquet")
        shutil.rmtree(stage)

    def run_once():
        events = (spark.readStream
                  .schema("user_id long, event_ts timestamp")
                  .parquet(src))
        q = (sessionize_stream(events, gap_minutes=30)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    def sessions():
        try:
            return {(r.user_id, r.session_start, r.session_end,
                     r.n_events)
                    for r in spark.read.schema(OUTPUT_SCHEMA)
                    .parquet(out).collect()}
        except Exception:
            return set()

    # batch 0: user 1 has an IN-BATCH gap (2 sessions); user 2's lone
    # event times out within run 0's trailing no-data microbatch (the
    # watermark advances to max_ts - 1min = t0+5340 > t0+100+gap)
    write_events("b0", [(1, t0), (1, t0 + 300), (1, t0 + 5400),
                        (2, t0 + 100)])
    run_once()
    got1 = sessions()
    assert (1, t0, t0 + 300, 2) in got1  # closed in-batch
    assert (2, t0 + 100, t0 + 100, 1) in got1  # closed by timeout
    assert not any(s == t0 + 5400 for _, s, *_ in got1)  # still open

    # batch 1 much later: watermark passes the open session's
    # last+gap -> evicted via event-time timeout; user 3 stays open
    write_events("b1", [(3, t0 + 10000)])
    run_once()
    got2 = sessions()
    assert (1, t0 + 5400, t0 + 5400, 1) in got2
    assert not any(u == 3 for u, *_ in got2)


class _FakeState:
    """Minimal GroupState double: enforces Spark's own invariant that a
    timeout must be set strictly after the current watermark."""
    hasTimedOut = False

    def __init__(self, st, wm_ms):
        self._st, self._wm = st, wm_ms
        self.timeout = None
        self.removed = False

    @property
    def exists(self):
        return self._st is not None

    @property
    def get(self):
        return self._st

    def update(self, v):
        self._st = v

    def remove(self):
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        assert ms > self._wm, "timeout at-or-before watermark (Spark throws)"
        self.timeout = ms


def _run_fn(gap_s, state, ts):
    import pandas as pd

    from tilemaker_spark.streaming.stateful import _make_fn
    fn = _make_fn(gap_s)
    out = list(fn((7,), [pd.DataFrame({"ts": ts})], state))
    return [tuple(r) for pdf in out for r in pdf.itertuples(index=False)]


def test_stateful_timeout_clamped_to_watermark():
    # open session's last+gap is already BEHIND the watermark (late-but-
    # admitted batch): without the clamp setTimeoutTimestamp throws
    st = _FakeState((1000, 1200, 2), wm_ms=10_000_000)
    out = _run_fn(60, st, [1100])  # late event, inside session span
    assert out == []
    assert st.timeout == 10_000_001  # watermark + 1ms
    assert st.get == (1000, 1200, 3)  # merged, last NOT moved backwards


def test_stateful_late_events_merge_against_state():
    # in-span late event: counted, end unchanged
    st = _FakeState((1000, 1300, 3), wm_ms=0)
    assert _run_fn(60, st, [1100]) == []
    assert st.get == (1000, 1300, 4)

    # late event within gap BEFORE start: extends the session backwards
    st = _FakeState((1000, 1300, 3), wm_ms=0)
    assert _run_fn(60, st, [950]) == []
    assert st.get == (950, 1300, 4)

    # late event too old to merge: emitted as its own singleton session
    st = _FakeState((1000, 1300, 3), wm_ms=0)
    assert _run_fn(60, st, [100]) == [(7, 100, 100, 1)]
    assert st.get == (1000, 1300, 3)

    # mixed batch: late merge + in-gap extension + gap closure
    st = _FakeState((1000, 1300, 3), wm_ms=0)
    out = _run_fn(60, st, [1100, 1350, 2000])
    assert out == [(7, 1000, 1350, 5)]
    assert st.get == (2000, 2000, 1)


def test_stateful_late_chain_reaches_open_session():
    """Chained late events each within gap of the NEXT must walk back
    into the open session together (ascending one-at-a-time processing
    broke the chain at the oldest event)."""
    st = _FakeState((1000, 1300, 3), wm_ms=0)
    assert _run_fn(60, st, [930, 965]) == []
    assert st.get == (930, 1300, 5)


def test_stateful_too_old_events_merge_among_themselves():
    """Late events beyond the open session's reach form their own
    gaps-and-islands sessions, not one singleton each."""
    st = _FakeState((100, 130, 2), wm_ms=0)
    assert _run_fn(5, st, [80, 82]) == [(7, 80, 82, 2)]
    assert st.get == (100, 130, 2)

    # two separate too-old islands plus a chain into the session
    st = _FakeState((1000, 1300, 3), wm_ms=0)
    out = _run_fn(60, st, [100, 120, 300, 950])
    assert out == [(7, 100, 120, 2), (7, 300, 300, 1)]
    assert st.get == (950, 1300, 4)


def _write_docs(spark, docs_dir, rows, name):
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    stage = f"{docs_dir}/_stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.move(f"{stage}/{src}", f"{docs_dir}/{name}.parquet")
    shutil.rmtree(stage)


def test_streaming_dedup_matches_batch_replay(spark, tmp_path):
    """Continuous-ingestion dedup: two drained micro-batches produce
    exactly the pairs a manual batch replay of incremental_lsh_pairs
    produces, and a restart with no new files adds nothing."""
    from tilemaker_spark.operators.dedup import incremental_lsh_pairs
    from tilemaker_spark.streaming.dedup import (read_dedup_pairs,
                                                 start_streaming_dedup)

    base = " ".join(f"t{i} t{i}x" for i in range(40))
    other = " ".join(f"q{i} q{i}y" for i in range(40))
    batch_a = [(1, base, "en"), (2, base + " alpha", "en"),
               (3, other, "en"),
               (4, " ".join(f"z{i} z{i}w" for i in range(40)), "en")]
    batch_b = [(100, base + " beta", "en"),
               (101, other + " gamma", "en"),
               (102, other + " gamma delta", "en"),
               (103, " ".join(f"n{i} n{i}v" for i in range(40)), "en")]

    docs_dir = str(tmp_path / "docs_in")
    workdir = str(tmp_path / "dedup_state")
    os.makedirs(docs_dir)

    _write_docs(spark, docs_dir, batch_a, "a")
    q = start_streaming_dedup(spark, docs_dir, workdir, threshold=0.5)
    q.awaitTermination(120)
    _write_docs(spark, docs_dir, batch_b, "b")
    q = start_streaming_dedup(spark, docs_dir, workdir, threshold=0.5)
    q.awaitTermination(120)

    got = {(r.new_id, r.dup_id) for r in
           read_dedup_pairs(spark, workdir).collect()}

    # batch replay: A against nothing, then B against A
    def docs(rows):
        return spark.createDataFrame(
            [(i, t) for i, t, _ in rows], "doc_id long, text string")

    empty = docs([])
    want = set()
    for new, corpus in ((batch_a, []), (batch_b, batch_a)):
        out = incremental_lsh_pairs(docs(new), corpus and docs(corpus)
                                    or empty, threshold=0.5)
        want |= {(r.new_id, r.dup_id) for r in out.collect()}
        for h in getattr(out, "_internal_persists", []):
            h.unpersist()

    assert got == want
    assert (2, 1) in got            # within-batch-A pair
    assert (100, 1) in got and (101, 3) in got  # cross-batch pairs
    assert (102, 101) in got        # within-batch-B, earlier-new wins

    # exactly-once: restart with no pending files adds nothing
    q = start_streaming_dedup(spark, docs_dir, workdir, threshold=0.5)
    q.awaitTermination(120)
    again = {(r.new_id, r.dup_id) for r in
             read_dedup_pairs(spark, workdir).collect()}
    assert again == got

    # replay guard: wipe the STREAM checkpoint so every file re-delivers
    # under already-committed batch ids — the processor must skip them
    # (processing would dedup each batch against its own committed docs
    # and emit jaccard-1.0 self-pairs)
    shutil.rmtree(os.path.join(workdir, "checkpoint"))
    q = start_streaming_dedup(spark, docs_dir, workdir, threshold=0.5)
    q.awaitTermination(120)
    replayed = {(r.new_id, r.dup_id) for r in
                read_dedup_pairs(spark, workdir).collect()}
    assert replayed == got
    assert not any(a == b for a, b in replayed)


def test_streaming_dedup_ledger_conflict_fails_fast(spark, tmp_path):
    """Checkpoint wiped while DIFFERENT input files are pending: batch
    ids restart at 0, colliding with a committed id whose content
    fingerprint differs. Skipping would silently drop the new data,
    processing would overwrite the old batch's delta — the processor
    must fail fast instead."""
    from tilemaker_spark.streaming.dedup import start_streaming_dedup

    docs_dir = str(tmp_path / "docs_in")
    workdir = str(tmp_path / "dedup_state")
    os.makedirs(docs_dir)

    _write_docs(spark, docs_dir,
                [(1, "a b c d", "en"), (2, "e f g h", "en")], "a")
    q = start_streaming_dedup(spark, docs_dir, workdir, threshold=0.5)
    q.awaitTermination(120)

    # simulate operator error: checkpoint recreated, old input replaced
    # by a genuinely new file that will be delivered as batch_id 0
    shutil.rmtree(os.path.join(workdir, "checkpoint"))
    os.remove(os.path.join(docs_dir, "a.parquet"))
    _write_docs(spark, docs_dir,
                [(10, "p q r s", "en"), (11, "t u v w", "en")], "b")

    q = start_streaming_dedup(spark, docs_dir, workdir, threshold=0.5)
    with pytest.raises(Exception, match="ledger conflict"):
        q.awaitTermination(120)
        raise AssertionError("stream drained without raising")


def test_batch_fingerprint_is_content_sensitive(spark):
    """The checkpoint-wipe replay guard hashes the TEXT, not its
    length: a re-crawl that regenerates same-length records under the
    same doc_ids must read as new data, not a 'true replay'."""
    from tilemaker_spark.streaming.dedup import _batch_fingerprint

    a = spark.createDataFrame([(1, "aaaa"), (2, "bbbb")],
                              "doc_id long, text string")
    b = spark.createDataFrame([(1, "aaab"), (2, "bbbc")],
                              "doc_id long, text string")
    assert _batch_fingerprint(a) != _batch_fingerprint(b)
    assert _batch_fingerprint(a) == _batch_fingerprint(
        a.orderBy(F.desc("doc_id")))


def test_streaming_curation_matches_sequential_replay(spark, tmp_path):
    """Continuous curation == a pure-Python decision-at-arrival replay
    across 3 micro-batches, covering every cross-batch case: a dup of
    a batch-1 survivor arriving in batch 2, an OLDER snapshot arriving
    after a newer one (stale at arrival), a NEWER snapshot arriving
    later (kept; the earlier row is not retracted), blocked hosts and
    quality failures. Restarting the drained stream appends nothing."""
    import datetime
    import hashlib
    import re

    from tilemaker_spark.streaming.curation import (
        read_curation_decisions, start_streaming_curation)

    good = ("the quick brown fox and a dog of the town go to market "
            "in the morning and talk of many things " * 2).strip()

    def ts(s):
        return (datetime.datetime(2024, 1, 1)
                + datetime.timedelta(seconds=s))

    # (doc_id, url, ts_sec, body)
    batches = [
        [(1, "https://a.example/p/1", 10, good + " one"),
         (2, "https://bad.example/x", 10, good),
         (3, "https://a.example/p/2", 30, good + " two"),
         (4, "https://a.example/p/1", 20, good + " newer")],  # in-batch newer
        [(5, "https://a.example/p/3", 10, good + " two"),     # dup of doc 3
         (6, "https://a.example/p/1", 5, good + " old"),      # older snap: stale
         (7, "https://a.example/p/2", 99, good + " fresh"),   # newer snap: kept
         (8, "https://a.example/p/4", 10, "tiny")],           # quality
        [(9, "https://a.example/p/5", 10, good + " two"),     # dup (from b1)
         (10, "https://a.example/p/6", 10, "tiny")],
    ]
    pages_dir = str(tmp_path / "pages")
    os.makedirs(pages_dir)
    wd = str(tmp_path / "cur")
    rules = spark.createDataFrame([(1, "host", "bad.example")],
                                  "rule_id long, kind string, pattern string")
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(d, u, ts(s), f"<html><body><p>{b}</p></body></html>"
              .encode()) for d, u, s, b in rows],
            "doc_id long, url string, warc_ts timestamp, html binary") \
            .coalesce(1).write.parquet(f"{pages_dir}/b{i}")
    q = start_streaming_curation(spark, pages_dir + "/*", wd, rules,
                                 min_words=10)
    q.awaitTermination(120)
    got = {r.doc_id: (r.reason, r.kept)
           for r in read_curation_decisions(spark, wd).collect()}

    # pure-Python decision-at-arrival replay
    def extract(b):
        s = re.sub(r"<[^>]*>", " ", f"<html><body><p>{b}</p></body></html>")
        return re.sub(r"\s+", " ", s).strip()

    url_state, hash_state, exp = {}, {}, {}
    for rows in batches:
        by_url = {}
        for d, u, s, b in rows:
            if "bad.example" in u:
                continue
            k = (s, d)
            if u not in by_url or k > by_url[u]:
                by_url[u] = k
        surv = []
        for d, u, s, b in rows:
            if "bad.example" in u:
                exp[d] = ("blocked", False)
            elif (s, d) < by_url[u] or \
                    (u in url_state and url_state[u] > (s, d)):
                exp[d] = ("stale", False)
            else:
                surv.append((d, u, s, b))
        bfirst = {}
        for d, u, s, b in surv:
            h = hashlib.md5(extract(b).encode()).hexdigest()
            bfirst.setdefault(h, d)
        for d, u, s, b in surv:
            h = hashlib.md5(extract(b).encode()).hexdigest()
            if h in hash_state or bfirst[h] != d:
                exp[d] = ("dup", False)
            elif len(extract(b).split(" ")) < 10:
                exp[d] = ("quality", False)
            else:
                exp[d] = ("kept", True)
        for u, k in by_url.items():
            if u not in url_state or k > url_state[u]:
                url_state[u] = k
        for d, u, s, b in surv:
            h = hashlib.md5(extract(b).encode()).hexdigest()
            hash_state.setdefault(h, d)
    assert got == exp, (got, exp)
    # the planted cross-batch behaviors, explicitly
    assert got[5] == ("dup", False) and got[9] == ("dup", False)
    assert got[6] == ("stale", False)
    assert got[7] == ("kept", True) and got[3] == ("kept", True)
    assert got[2] == ("blocked", False)
    assert got[8] == ("quality", False)

    # restart: drained stream + same checkpoint adds nothing
    n0 = read_curation_decisions(spark, wd).count()
    q2 = start_streaming_curation(spark, pages_dir + "/*", wd, rules,
                                  min_words=10)
    q2.awaitTermination(120)
    assert read_curation_decisions(spark, wd).count() == n0
