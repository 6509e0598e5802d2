"""The cdc workloads: the user-facing CDC pipe, built by the public
runner (``runner.build_pipes`` -> ``Pipe.start``), driven in one or both
of two phases.

* live (``cdc_live``): an open loop on a fixed schedule. One segment
  lands per ``LIVE_INTERVAL_S``, above the batch time at the reference
  commit, so each segment is one microbatch and the pipe idles between
  batches. A segment's latency runs from its due time to the commit of
  the batch that carried it.
* catch-up (``cdc_catchup``): a backlog of large segments drained in
  batches of ``FILES_PER_TRIGGER`` segments (~43k mutations, where
  per-row work is most of ``addBatch``). Throughput is mutations per
  second from the first backlog batch's start to the last commit.

An untraced run measures one phase; the traced run runs both in one
session, so the layer figures of the pair can be set side by side.
Every figure is read from outside the library: the checkpoint and sink
logs on disk, the query's progress reports, and the status tracker.
"""

from __future__ import annotations

import glob
import json
import multiprocessing
import os
import time
from collections import Counter
from contextlib import contextmanager
from datetime import datetime

import observe
from loadgen import Lander, Segment, digest

LIVE_TX = 125  # transactions per live segment: ~300 mutations kept
LIVE_INTERVAL_S = 1.0
LIVE_WARM = 4  # closed-loop live segments in the set-up
# the first batches of the open loop still run ~20% slower than the
# rest, however long the closed-loop warm-up: they are landed on the
# schedule but give no sample
LIVE_SKIP = 5
# full-size catch-up batches in the set-up; with one, the first timed
# batches ran ~30% slower than the last
CATCHUP_WARM = 3
BIG_TX = 1_000  # transactions per backlog segment: ~2,400 mutations kept
FILES_PER_TRIGGER = 18
COLD_FILES = 4  # enough files for one task per core in the cold batch
DRAIN_TIMEOUT_S = 120
# the traced run is not gated; shorter phases keep it, with both phases
# and the single-core baseline, well inside the time limit of one run
TRACED_LIVE = 10
TRACED_BATCHES = 2
PHASES = ("live", "catchup")
RAN_ROLES = ("cold", "warm", "live_skip", "live", "backlog_warm", "backlog")


def plan(seconds: int, phases: tuple[str, ...], traced: bool) -> dict[str, list[tuple[int, int]]]:
    """Segment specs ``(index, num_tx)`` per role; indices are unique
    across roles, so every segment of a run has its own seed."""
    # the live phase lasts --seconds; the timed backlog is one batch per
    # 4 s of it (about 2 s each at the reference commit)
    n_live = max(1, round(seconds / LIVE_INTERVAL_S))
    batches = max(2, seconds // 4)
    if traced:
        n_live, batches = min(n_live, TRACED_LIVE), TRACED_BATCHES
    roles = {"cold": [BIG_TX] * COLD_FILES}
    if "live" in phases:
        roles["warm"] = [LIVE_TX] * LIVE_WARM
        roles["live_skip"] = [LIVE_TX] * LIVE_SKIP
        roles["live"] = [LIVE_TX] * n_live
    if "catchup" in phases:
        roles["backlog_warm"] = [BIG_TX] * (FILES_PER_TRIGGER * CATCHUP_WARM)
        roles["backlog"] = [BIG_TX] * (FILES_PER_TRIGGER * batches)
    if traced:
        roles["single_cold"] = [LIVE_TX]
        roles["single"] = [BIG_TX] * FILES_PER_TRIGGER
    out, i = {}, 0
    for role, sizes in roles.items():
        out[role] = [(i + k, n) for k, n in enumerate(sizes)]
        i += len(sizes)
    return out


def pipe_config(root: str) -> dict:
    return {
        "consumers": {"cl": {"type": "changelog", "path": f"{root}/watch",
                             "max-files-per-trigger": FILES_PER_TRIGGER}},
        "pipes": {"cdc": {
            "consumer": "cl",
            "include-event-condition": "database = 'mypipe'",
            "topic-template": "${database}_${table}_generic",
            "wire": {"flavor": "generic", "codec": "avro_ref"},
            "producer": {"name": "parquet", "path": f"{root}/out"},
            "checkpoint": f"{root}/ckpt",
        }},
    }


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class PipeRun:
    """One started pipe and what it has reported so far."""

    def __init__(self, spark, root: str, pipe, cold: list[Segment], tracer):
        """Lands ``cold`` and starts the pipe; its first batch reads them."""
        self.lander = Lander(f"{root}/watch")
        self.ckpt = f"{root}/ckpt"
        self.progress: dict[int, dict] = {}
        self.land(cold)
        self.started = time.time()
        with tracer.span("Pipe.start", "setup", "setup"):
            self.query = pipe.start(spark)

    def poll(self) -> None:
        # recentProgress keeps only the last 100 batches (the default of
        # spark.sql.streaming.numRecentProgressUpdates), so it is read
        # whenever a new batch has finished and merged by batch id,
        # rather than read once at the end
        last = self.query.lastProgress
        if last is not None and last.batchId not in self.progress:
            for p in self.query.recentProgress:
                self.progress.setdefault(p.batchId, json.loads(p.json))

    def rows_since(self, first_batch: int) -> int:
        return sum(p["numInputRows"] for b, p in self.progress.items() if b >= first_batch)

    def next_batch(self) -> int:
        return max(self.progress, default=-1) + 1

    def land(self, segs: list[Segment]) -> float:
        now = time.time()
        for s in segs:
            self.lander.land(s, now)
        return now

    def land_and_drain(self, segs: list[Segment]) -> None:
        """Land ``segs`` at once and wait until batches have consumed
        them."""
        first = self.next_batch()
        self.land(segs)
        self.wait_rows(first, sum(s.events for s in segs))

    def wait_listed(self, segs: list[Segment]) -> None:
        """Wait until a started batch has taken every file of ``segs``.
        Files landed while the pipe is idle race its next listing, which
        can see part of them and split a batch; files landed while a
        batch runs are all listed by the next one."""
        names = {os.path.basename(s.path) for s in segs}
        deadline = time.time() + DRAIN_TIMEOUT_S
        while not names <= segment_batches(self.ckpt).keys():
            if time.time() > deadline:
                raise TimeoutError("pipe did not list the landed segments")
            time.sleep(0.01)

    def wait_rows(self, first_batch: int, rows: int) -> None:
        deadline = time.time() + DRAIN_TIMEOUT_S
        while True:
            self.poll()
            if self.rows_since(first_batch) >= rows:
                return
            if self.query.exception() is not None:
                raise RuntimeError(f"pipe failed: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"pipe did not consume {rows} rows in {DRAIN_TIMEOUT_S} s")
            time.sleep(0.05)

    def stop(self) -> None:
        self.poll()
        self.query.stop()


def _log_entries(log_dir: str) -> list[tuple[int, list[dict]]]:
    """Entries of a metadata log (file source or file sink) per batch
    file, in batch order. Every 10th batch the log is compacted into
    ``N.compact``, which repeats all earlier entries, so compact files
    must be read too and de-duplicated by the caller."""
    out = []
    for path in glob.glob(f"{log_dir}/*"):
        name = os.path.basename(path)
        stem = name.removesuffix(".compact")
        if not stem.isdigit():
            continue
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # first line: log version
        out.append((int(stem), [json.loads(line) for line in lines if line]))
    return sorted(out, key=lambda t: t[0])


def segment_batches(ckpt: str) -> dict[str, int]:
    """Segment file name -> id of the batch that read it, from the file
    source's log (its entries carry the batch id, also when compacted)."""
    return {os.path.basename(e["path"]): e["batchId"]
            for _, entries in _log_entries(f"{ckpt}/sources/0") for e in entries}


def sink_files(out_dir: str) -> dict[int, list[dict]]:
    """Batch id -> data files the parquet sink committed in it. Sink
    entries carry no batch id; a compacted file lists all earlier files,
    so each batch owns the paths not seen in an earlier batch."""
    seen, out = set(), {}
    for batch, entries in _log_entries(f"{out_dir}/_spark_metadata"):
        new = [e for e in entries if e["path"] not in seen and e.get("action", "add") == "add"]
        seen.update(e["path"] for e in new)
        out[batch] = new
    return out


def commit_time(ckpt: str, batch: int) -> float:
    return os.path.getmtime(f"{ckpt}/commits/{batch}")


def drain_s(ckpt: str, progress: dict, batches: list[int]) -> float:
    """Seconds from the start of the first of ``batches`` to the commit
    of the last."""
    return (max(commit_time(ckpt, b) for b in batches)
            - min(_iso_s(progress[b]["timestamp"]) for b in batches))


def checkpoint_bytes(ckpt: str, batch: int) -> int:
    total = 0
    for pattern in (f"offsets/{batch}", f"commits/{batch}", f"sources/0/{batch}",
                    f"sources/0/{batch}.compact"):
        path = f"{ckpt}/{pattern}"
        if os.path.exists(path):
            total += os.path.getsize(path)
    return total


def canonical_col():
    """Spark twin of ``loadgen.canonical`` over decoded change events."""
    from pyspark.sql import functions as F

    parts = [F.coalesce(F.col(c).cast("string"), F.lit(""))
             for c in ("op", "database", "table", "table_id", "txid")]
    for prefix in ("old_", "new_"):
        for kind in ("bytes", "integers", "strings", "longs"):
            value = "hex(e.value)" if kind == "bytes" else "cast(e.value AS string)"
            parts.append(F.expr(
                f"coalesce(array_join(array_sort(transform(map_entries({prefix}{kind}), "
                f"e -> concat(e.key, '=', {value}))), ','), '')"))
    return F.concat_ws("|", *parts)


def verify(spark, out_dir: str, segs: list[Segment]) -> tuple[set[int], int]:
    """Decodes every committed frame with the library's wire decoder and
    compares the multiset of mutations with what the generator wrote
    for ``database = 'mypipe'``. Returns the indices of segments with a
    missing or duplicated mutation, and the number of output rows that
    belong to no segment."""
    from mypipe_spark.sinks.wire import decode_generic, decoded_change_events

    # reading the sink directory goes through its _spark_metadata log,
    # so only files of committed batches are read
    frames = spark.read.parquet(out_dir).select("value")
    decoded = decoded_change_events(decode_generic(frames, codec="avro_ref"))
    table = decoded.select("txid", canonical_col().alias("canon")).toArrow()
    owner = {tx: s.index for s in segs for tx in s.txids}
    got: dict[int, Counter] = {s.index: Counter() for s in segs}
    stray = 0
    for txid, canon in zip(table.column("txid").to_pylist(), table.column("canon").to_pylist()):
        idx = owner.get(txid)
        if idx is None:
            stray += 1
        else:
            got[idx][digest(canon)] += 1
    return {s.index for s in segs if got[s.index] != s.expected}, stray


def run(ctx, spark, setup_start: float, phases: tuple[str, ...]) -> dict:
    """Set-up, then each of ``phases`` in order; returns the raw record
    that ``summarize`` turns into metrics."""
    from mypipe_spark.runner import build_pipes

    tr, segs, root = ctx.tracer, ctx.segments, f"{ctx.work}/cdc"
    t0 = time.perf_counter()
    with tr.span("runner.build_pipes", "setup", "setup"):
        (pipe,) = build_pipes(pipe_config(root))
    raw = dict(root=root, setup_start=setup_start, build_ms=(time.perf_counter() - t0) * 1000,
               windows={})
    # the cold batch holds large segments, one task per core, so the
    # large-batch path and every Python worker are warm before any clock
    pr = PipeRun(spark, root, pipe, segs["cold"], tr)
    with tr.span("streaming.cold_batch", "setup", "setup"):
        pr.wait_rows(0, sum(s.events for s in segs["cold"]))
    if "live" in phases:
        # the live warm-up segments run closed loop, one batch each
        for s in segs["warm"]:
            pr.land_and_drain([s])
        raw["live_ready"] = time.time()
        raw["start_to_warm_ms"] = (time.time() - pr.started) * 1000
        tr.add("setup", "setup", setup_start, time.time())
        with _window(ctx, spark, pr, raw, "live") as first:
            raw["due"], raw["late"] = {}, []
            t_next = time.time()
            for s in segs["live_skip"] + segs["live"]:
                t_next += LIVE_INTERVAL_S
                time.sleep(max(0.0, t_next - time.time()))
                landed = pr.land([s])
                raw["due"][s.index] = t_next
                raw["late"].append((landed - t_next) * 1000)
                pr.poll()
            pr.wait_rows(first, sum(s.events for s in segs["live_skip"] + segs["live"]))
    if "catchup" in phases:
        # full-size batches warm the large-batch path before the clock,
        # one landed while the previous runs; the timed backlog lands
        # while the last one runs (see PipeRun.wait_listed)
        with _window(ctx, spark, pr, raw, "catchup") as first:
            warm = segs["backlog_warm"]
            for k in range(0, len(warm), FILES_PER_TRIGGER):
                pr.land(warm[k:k + FILES_PER_TRIGGER])
                pr.wait_listed(warm[k:k + FILES_PER_TRIGGER])
            raw["backlog_landed"] = pr.land(segs["backlog"])
            pr.wait_rows(first, sum(s.events for s in segs["backlog_warm"] + segs["backlog"]))
    pr.stop()
    raw["progress"] = pr.progress
    return raw


@contextmanager
def _window(ctx, spark, pr, raw, phase: str):
    """Records the batches, streaming jobs and JVM GC time of one phase;
    yields the id of its first batch."""
    first = pr.next_batch()
    jobs, gc = ctx.group_jobs(spark, pr.query.runId), ctx.gc(spark)
    yield first
    raw["windows"][phase] = dict(first=first, last=pr.next_batch() - 1,
                                 jobs=ctx.group_jobs(spark, pr.query.runId) - jobs,
                                 gc=ctx.gc(spark) - gc)


def summarize(ctx, spark, raw: dict) -> tuple[dict, dict, int, int]:
    """Checks the output, then turns the raw record into metrics named
    ``<workload>.<metric>`` and facts for the detail line. Returns
    ``(metrics, detail, attempted, failed)``; attempted counts segments."""
    segs, ckpt, out_dir = ctx.segments, f"{raw['root']}/ckpt", f"{raw['root']}/out"
    ran = [s for role in RAN_ROLES for s in segs.get(role, ())]
    failed, stray = verify(spark, out_dir, ran)
    seg_batch = segment_batches(ckpt)
    prog = raw["progress"]

    def batch_of(s: Segment) -> int:
        return seg_batch[os.path.basename(s.path)]

    m, detail = {}, {}
    if "live" in raw["windows"]:
        # a segment's latency runs from its due time (it lands within
        # harness.gen_late_ms_max of it) to the commit of the batch that
        # carried it; one sample per segment (see NOTES.md)
        live = segs["live"]
        due = {s.index: raw["due"][s.index] for s in live}
        done = {s.index: commit_time(ckpt, batch_of(s)) for s in live}
        lat = [(done[i] - due[i]) * 1000 for i in due]
        m["cdc_live.latency_p50_ms"] = observe.pct(lat, 50)
        m["cdc_live.throughput_per_s"] = (sum(s.mutations for s in live)
                                          / (max(done.values()) - min(due.values())))
        m["cdc_live.setup_s"] = raw["live_ready"] - raw["setup_start"]
        detail["cdc_live.samples"] = len(lat)
        detail["cdc_live.batch_ms"] = [prog[b]["batchDuration"]
                                       for b in sorted({batch_of(s) for s in live})]
    if "catchup" in raw["windows"]:
        # a backlog segment's latency runs from the start of the drain to
        # the commit of the batch that carried it
        backlog = segs["backlog"]
        batches = sorted({batch_of(s) for s in backlog})
        start = min(_iso_s(prog[b]["timestamp"]) for b in batches)
        lat = [(commit_time(ckpt, batch_of(s)) - start) * 1000 for s in backlog]
        m["cdc_catchup.latency_p50_ms"] = observe.pct(lat, 50)
        m["cdc_catchup.throughput_per_s"] = (sum(s.mutations for s in backlog)
                                             / drain_s(ckpt, prog, batches))
        # set-up ends with the commit of the last warm batch
        m["cdc_catchup.setup_s"] = commit_time(ckpt, batches[0] - 1) - raw["setup_start"]
        detail["cdc_catchup.samples"] = len(lat)
        detail["cdc_catchup.batch_ms"] = [prog[b]["batchDuration"] for b in batches]
    if ctx.trace:
        m.update(_layers(ctx, spark, raw, batch_of, ran))
    return m, detail, len(ran), len(failed) + (1 if stray else 0)


def _layers(ctx, spark, raw, batch_of, ran) -> dict:
    """Per-layer figures of a run that ran both phases."""
    segs, ckpt, out_dir = ctx.segments, f"{raw['root']}/ckpt", f"{raw['root']}/out"
    prog = raw["progress"]
    per_batch = Counter()
    for s in ran:
        per_batch[batch_of(s)] += s.mutations
    files = sink_files(out_dir)
    live_batches = sorted({batch_of(s) for s in segs["live"]})
    bl_batches = sorted({batch_of(s) for s in segs["backlog"]})
    m = {
        "runner.build_pipes_ms": raw["build_ms"],
        "streaming.start_to_warm_ms": raw["start_to_warm_ms"],
        "harness.gen_late_ms_max": max(raw["late"]),
        "operators.emitted_per_input": sum(s.mutations for s in ran) / sum(s.events for s in ran),
        "sinks.bytes_per_mutation": sum(f["size"] for fs in files.values() for f in fs)
        / sum(s.mutations for s in ran),
        "cdc_catchup.mutations": sum(per_batch[b] for b in bl_batches),
        "cdc_live.sources.wait_ms_p50": observe.pct(
            [(_iso_s(prog[batch_of(s)]["timestamp"]) - raw["due"][s.index]) * 1000
             for s in segs["live"]], 50),
    }
    for name, batches in (("cdc_live", live_batches), ("cdc_catchup", bl_batches)):
        w = raw["windows"][name.removeprefix("cdc_")]
        # jobs are counted over every batch of the phase's window, the
        # catch-up warm batches included
        js = observe.jobs_stats(spark, w["jobs"])
        n_window = w["last"] - w["first"] + 1
        dur = [prog[b]["durationMs"] for b in batches]
        n = len(batches)
        m.update({
            f"{name}.batches": n,
            f"{name}.session.jvm_gc_ms": w["gc"],
            f"{name}.streaming.batch_ms_p50": observe.pct([prog[b]["batchDuration"] for b in batches], 50),
            f"{name}.streaming.batch_ms_p90": observe.pct([prog[b]["batchDuration"] for b in batches], 90),
            f"{name}.sources.latest_offset_ms_p50": observe.pct([d.get("latestOffset", 0) for d in dur], 50),
            f"{name}.sources.get_batch_ms_p50": observe.pct([d.get("getBatch", 0) for d in dur], 50),
            f"{name}.streaming.query_planning_ms_p50": observe.pct([d.get("queryPlanning", 0) for d in dur], 50),
            f"{name}.streaming.wal_commit_ms_p50": observe.pct([d.get("walCommit", 0) for d in dur], 50),
            f"{name}.streaming.commit_offsets_ms_p50": observe.pct([d.get("commitOffsets", 0) for d in dur], 50),
            f"{name}.streaming.checkpoint_bytes_per_batch": sum(checkpoint_bytes(ckpt, b) for b in batches) / n,
            f"{name}.streaming.jobs_per_batch": js["jobs"] / n_window,
            f"{name}.streaming.tasks_per_batch": js["tasks"] / n_window,
            f"{name}.sinks.add_batch_ms_p50": observe.pct([d.get("addBatch", 0) for d in dur], 50),
            f"{name}.sinks.add_batch_us_per_mutation": observe.pct(
                [1000 * prog[b]["durationMs"].get("addBatch", 0) / per_batch[b] for b in batches], 50),
            f"{name}.sinks.files_per_batch": sum(len(files.get(b, ())) for b in batches) / n,
        })
    # addBatch = fixed + per_row * mutations, fitted through the two
    # phases' medians: the share of addBatch that is per-row work
    n_live = observe.pct([per_batch[b] for b in live_batches], 50)
    n_bl = observe.pct([per_batch[b] for b in bl_batches], 50)
    a_live, a_bl = m["cdc_live.sinks.add_batch_ms_p50"], m["cdc_catchup.sinks.add_batch_ms_p50"]
    per_row = (a_bl - a_live) / (n_bl - n_live)
    m["cdc_live.sinks.add_batch_row_share"] = per_row * n_live / a_live
    m["cdc_catchup.sinks.add_batch_row_share"] = per_row * n_bl / a_bl
    m.update(codec_loops(out_dir, files, bl_batches))
    _segment_spans(ctx.tracer, segs, raw, batch_of, ckpt)
    return m


BATCH_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
               "commitOffsets")


def _segment_spans(tr, segs, raw, batch_of, ckpt) -> None:
    """One trace per segment: due (or landing) -> commit, with its
    batch and the batch's durationMs parts as children. The parts are
    reported as durations only; they are laid out in the order the
    engine runs them."""
    prog = raw["progress"]
    for role in ("live", "backlog"):
        for s in segs[role]:
            batch = batch_of(s)
            trace, commit = f"seg-{s.index}", commit_time(ckpt, batch)
            start = raw["due"][s.index] if role == "live" else raw["backlog_landed"]
            tr.add("segment", trace, start, commit, None, role=role, batch=batch,
                   mutations=s.mutations)
            t = _iso_s(prog[batch]["timestamp"])
            tr.add("batch", trace, t, commit, "segment")
            for part in BATCH_PARTS:
                d = prog[batch]["durationMs"].get(part, 0) / 1000
                tr.add(part, trace, t, t + d, "batch")
                t += d


def codec_loops(out_dir: str, files: dict, batches: list[int], limit: int = 20_000) -> dict:
    """Single-thread loops over the library's reference-record codec on
    the frames this run emitted: decode each payload, then encode the
    decoded record again (and check it gives the same bytes)."""
    import pyarrow.parquet as pq

    from mypipe_spark.sinks.avro_codec import decode_reference_record, encode_reference_record
    from mypipe_spark.model import MAGIC_TO_MUTATION as op_of

    frames = []
    for b in batches:
        for f in files.get(b, ()):
            path = f["path"].removeprefix("file://")
            frames.extend(pq.read_table(path, columns=["value"]).column("value").to_pylist())
        if len(frames) >= limit:
            break
    frames = frames[:limit]
    ops = [op_of[v[1]] for v in frames]
    t0 = time.perf_counter()
    recs = [decode_reference_record(op, v[4:]) for op, v in zip(ops, frames)]
    t1 = time.perf_counter()
    again = [encode_reference_record(op, r) for op, r in zip(ops, recs)]
    t2 = time.perf_counter()
    if any(a != v[4:] for a, v in zip(again, frames)):
        raise RuntimeError("encode(decode(frame)) differs from the emitted frame")
    return {"sinks.decode_us_per_record": (t1 - t0) * 1e6 / len(frames),
            "sinks.encode_us_per_record": (t2 - t1) * 1e6 / len(frames)}


def single_core(ctx) -> float:
    """Catch-up throughput of one batch of the same shape at
    ``local[1]``, in a spawned process with its own session (a session
    cannot change its master in place). Run it after the main session
    has stopped, so the two do not share the cores."""
    args = (ctx.work, ctx.segments["single_cold"], ctx.segments["single"])
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        result = pool.apply(_single_core_main, args)
        pool.close()
        pool.join()
    return result


def _single_core_main(work: str, cold: list[Segment], batch: list[Segment]) -> float:
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    import observe
    import run as bench

    from mypipe_spark.runner import build_pipes

    spark = bench.start_session(work)
    try:
        root = f"{work}/cdc1"
        (pipe,) = build_pipes(pipe_config(root))
        pr = PipeRun(spark, root, pipe, cold, observe.Tracer(False))
        pr.wait_listed(cold)
        pr.land(batch)
        pr.wait_rows(0, sum(s.events for s in cold + batch))
        pr.stop()
    finally:
        bench.stop_session(spark)
    seg_batch = segment_batches(pr.ckpt)
    batches = sorted({seg_batch[os.path.basename(s.path)] for s in batch})
    return sum(s.mutations for s in batch) / drain_s(pr.ckpt, pr.progress, batches)
