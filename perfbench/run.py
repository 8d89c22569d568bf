"""Flow-engine benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Workloads (see
BENCHMARK.json for why each was chosen):

  ingest          both ingest paths in one session: an open loop where
                  a separate sender process replays binary NetFlow
                  v5/v9/IPFIX/sFlow v5 datagrams on a schedule to a
                  udp:// listener, below and above saturation; then a
                  closed drain of a goflow2 JSON-lines replay
                  (jsonl:// -> IngestPipeline -> parquet sink)
  flow_dashboard  closed loop, one client, flows and TPC-H queries from
                  the plans registry in seeded order; its traced run also
                  times the corpus-curation operators

The legacy bench.py is not this benchmark: it reports the best of N
runs of its queries (which hides spread), has ingest only as a side
number and no latency metric.

Inputs are generated from --seed inside the checkout (.perfbench/). The
last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer with --trace 1).
The lines before it print every metric under its workload-specific name
with its unit, the run environment and, for traced runs, the tracing
overhead. The trace's spans are written to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import socket
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, totals  # noqa: E402

DASHBOARD_QUERIES = (
    "flows_top_talkers", "flows_protocol_breakdown",
    "flows_bitrate_timeseries", "flows_port_fanout",
    "flows_conversation_matrix", "ch_dialect_top_talkers",
    "flows_site_traffic", "ipv6_address_classes", "flows_tcp_syn_only",
    "flows_duration_histogram", "flows_sampler_utilization",
    "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_volume_customers",
)
# q9_product_profit is left out: it rounds a floating-point SUM to cents,
# and Spark and DuckDB add in different orders, so on generated tables
# a group now and then lands on the other side of a half cent (seed 1:
# NATION_2/2000 reads 772116.49 in Spark, 772116.5 in DuckDB).
#: the corpus-curation operators, timed in the flow_dashboard traced run
CURATION_QUERIES = (
    "corpus_curation_funnel", "dedup_minhash_lsh", "semdedup_prune",
    "ivf_batch_probe", "ivfpq_batch_probe", "bm25_topk",
    "text_bpe_token_ids", "embedding_knn_graph", "multimodal_phash_neardup",
)
DASHBOARD_SF = 0.002
CORPUS_SF = 0.01

# shares of --seconds: UDP below and above saturation, then the
# JSON-lines drain
UDP_LOW_SHARE, UDP_HIGH_SHARE, JSONL_SHARE = 0.4, 0.1, 0.5

JSONL_FILES = 24
JSONL_ROWS_PER_FILE = 5000
JSONL_FILES_PER_TRIGGER = 2
JSONL_PROBE_FILES = 4

UDP_ROWS_PER_DGRAM = 20
UDP_RATE_LOW = 2_500      # rows/s, below saturation
UDP_RATE_HIGH = 60_000    # rows/s, above saturation
UDP_RCVBUF = 4_194_304
UDP_MAX_ROWS_PER_TRIGGER = 100_000


# ----------------------------------------------------------------- helpers

def tail_stats(values: list[float]) -> tuple[float, float, float, int]:
    """(p50, tail, tail percentile, n): the tail is the highest
    percentile that still has at least ten samples beyond it. Below 21
    samples no percentile above the median has ten beyond it; the tail
    is then the maximum (percentile reported as 100)."""
    xs = sorted(values)
    n = len(xs)
    p50 = statistics.median(xs)
    if n < 21:
        return p50, xs[-1], 100.0, n
    k = n - 11  # ten samples above index k
    return p50, xs[k], 100.0 * (k + 1) / n, n


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss_kb(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        st = fh.read()
                    parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
                except (OSError, ValueError):
                    continue
        mine, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in mine:
                    mine.add(c)
                    frontier.append(c)
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        total = 0
        for p in mine:
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * page_kb
            except (OSError, ValueError, IndexError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())


class Run:
    """State shared by one benchmark run."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.session_start_s = 0.0
        self.warm_up_s = 0.0
        self.setup_extra_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.report: list[tuple[str, object, str]] = []
        self.env: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation, failed unless ok."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def start_session(self) -> None:
        """Cold start with the engine's own session defaults (launches
        the JVM); only scratch paths and console output are set here."""
        from goflow2clickhouse_spark.session import get_spark

        with self.tracer.span("session.start"):
            t0 = time.monotonic()
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.path('tmp')}",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.session_start_s = time.monotonic() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = (self.session_start_s, "s")

    def warm_up(self, fn) -> None:
        """The timed warm-up: the first use of the workload's path on the
        cold session, which pays Python-worker start, worker imports,
        JIT and codegen. It happens once per session, so it is timed
        once and counted whole in setup_s."""
        with self.tracer.span("setup.warm_up"):
            t0 = time.monotonic()
            fn()
            self.warm_up_s = time.monotonic() - t0

    def setup_s(self) -> float:
        """Session start, plus lazy builds, plus the cold warm-up."""
        return self.session_start_s + self.setup_extra_s + self.warm_up_s


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _noop(df, repeat: int = 3) -> float:
    """Best-of-`repeat` time to fully evaluate df (noop sink)."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def _read_sink(path: str, batch_ids: list[int]):
    """The committed batches of an idempotent parquet sink, with a
    batch_id column (pyarrow, so the check runs outside Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = []
    for b in batch_ids:
        d = os.path.join(path, f"batch_id={b}")
        t = pq.read_table(d)
        tables.append(t.append_column(
            "batch_id", pa.array([b] * t.num_rows, pa.int64())))
    if not tables:
        return None
    return pa.concat_tables(tables).sort_by("sequence_num")


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet bytes, parquet files) under path."""
    size = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
    return size, files


class TimedSink:
    """foreachBatch sink wrapper: writes through the engine's sink and
    records each batch's start and commit time (time.monotonic, the
    clock the UDP sender schedules by). After `stop` is set,
    later batches are acknowledged without writing (so the query can
    be stopped between batches, never inside one)."""

    def __init__(self, path: str):
        from goflow2clickhouse_spark.sinks import idempotent_parquet_sink

        self.path = path
        self._sink = idempotent_parquet_sink(path)
        self.commits: list[tuple[int, float, float]] = []
        self.stop = threading.Event()
        self.skipped: list[int] = []

    def __call__(self, df, batch_id: int) -> None:
        if self.stop.is_set():
            self.skipped.append(batch_id)
            return
        t0 = time.monotonic()
        self._sink(df, batch_id)
        t1 = time.monotonic()
        self.commits.append((batch_id, t0, t1))

    def wait_commits(self, n: int, timeout: float) -> bool:
        end = time.monotonic() + timeout
        while len(self.commits) < n and time.monotonic() < end:
            time.sleep(0.02)
        return len(self.commits) >= n


def _progress_by_batch(query) -> dict[int, object]:
    return {p.batchId: p for p in query.recentProgress}


def _stream_layer_stats(run: Run, query, sink: "TimedSink", rows: int,
                        tag: str) -> None:
    """Per-batch streaming and sink figures of one ingest phase, from
    the query's own progress reports and the sink directory."""
    prog = _progress_by_batch(query)
    over, plan = [], []
    for b, _, _ in sink.commits:
        p = prog.get(b)
        if p is None:
            continue
        d = p.durationMs or {}
        over.append((d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3)
        plan.append(d.get("queryPlanning", 0) / 1e3)
    n = max(1, len(sink.commits))
    size, files = _dir_stats(sink.path)
    run.layers.update({
        f"streaming.ingest.{tag}.overhead_s_per_batch":
            (statistics.median(over) if over else 0.0, "s"),
        f"streaming.ingest.{tag}.planning_s_per_batch":
            (statistics.median(plan) if plan else 0.0, "s"),
        f"streaming.ingest.{tag}.batches": (len(sink.commits), "count"),
        f"sinks.{tag}.write_s_per_batch": (
            statistics.median(t1 - t0 for _, t0, t1 in sink.commits)
            if sink.commits else 0.0, "s"),
        f"sinks.{tag}.bytes_per_row": (size / rows if rows else 0.0, "B"),
        f"sinks.{tag}.files_per_batch": (files / n, "count"),
    })


def _socket_drops(port: int) -> int:
    """The kernel's drop count for the UDP socket bound to
    127.0.0.1:port (the last column of /proc/net/udp)."""
    local = f"0100007F:{port:04X}"
    with open("/proc/net/udp") as fh:
        for line in fh.readlines()[1:]:
            cols = line.split()
            if cols[1] == local:
                return int(cols[-1])
    raise LookupError(f"no UDP socket on 127.0.0.1:{port}")


def _wait_listener(listener, batches: int, timeout: float = 10.0) -> dict:
    """The listener's snapshot once it has seen `batches` progress
    events (listener events arrive asynchronously)."""
    end = time.monotonic() + timeout
    snap = listener.metrics.snapshot()
    while snap["flows_batches_total"] < batches and time.monotonic() < end:
        time.sleep(0.05)
        snap = listener.metrics.snapshot()
    return snap


# ------------------------------------------------------------------ ingest

def ingest(run: Run) -> None:
    """Both ingest paths in one session: an open-loop UDP phase below
    and above saturation, then a closed drain of a goflow2 JSON-lines
    replay. Each is checked against the generator's rows."""
    in_dir = run.path("jsonl")
    expected, junk = gen.write_jsonl(in_dir, run.seed, JSONL_FILES,
                                     JSONL_ROWS_PER_FILE)
    udp = _UdpInputs(run)
    run.start_session()

    def pipeline(listen: str, name: str, sink, trigger: str = "0 seconds",
                 session=None):
        from goflow2clickhouse_spark.streaming.ingest import (
            IngestConfig, IngestPipeline)

        cfg = IngestConfig(listen=listen, batch_max_time=trigger,
                           batch_size=UDP_MAX_ROWS_PER_TRIGGER,
                           checkpoint=run.path("ckpt", name))
        return IngestPipeline(session or run.spark, cfg, sink)

    # set-up: start a UDP listener, deliver datagrams of every protocol
    # and wait for their commit
    def warm_up() -> None:
        port = _free_port()
        q = pipeline(f"udp://127.0.0.1:{port}?rcvbuf={UDP_RCVBUF}",
                     "warm", TimedSink(run.path("warm"))).start("warm")
        try:
            _wait_progress(q)
            with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as tx:
                for p in udp.warm:
                    tx.sendto(p, ("127.0.0.1", port))
            end = time.monotonic() + 60
            while (sum(p.numInputRows for p in q.recentProgress)
                   < len(udp.warm) * UDP_ROWS_PER_DGRAM
                   and time.monotonic() < end):
                time.sleep(0.01)
        finally:
            q.stop()

    run.warm_up(warm_up)
    _udp_phase(run, pipeline, udp)
    # the JSON-lines drain runs on the warm session; its first batch
    # (JSON decode plans, the string-to-bytes UDF) is excluded from the
    # rate and reported as streaming.ingest.jsonl.first_batch_s
    _jsonl_phase(run, pipeline, in_dir, expected, junk)
    run.env = _environment(run)
    if run.tracer.enabled:
        _jsonl_layer_probes(run, in_dir)
        _udp_layer_probes(run, udp.low + udp.high,
                          udp.kinds_low + udp.kinds_high)
        _single_thread_baseline(run, pipeline, in_dir)


def _wait_idle(query, sink: "TimedSink", timeout: float = 60) -> None:
    """Wait until a triggered query has worked off its input: no trigger
    running and no commit for longer than the 1 s trigger interval, so
    a trigger since the last commit found nothing to read."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        last = sink.commits[-1][2] if sink.commits else 0.0
        if (not query.status["isTriggerActive"]
                and time.monotonic() - last > 1.2):
            return
        time.sleep(0.05)


def _wait_reported(query, sink: "TimedSink", timeout: float = 30) -> None:
    """Wait until Spark has reported progress for every batch the sink
    committed (offsets and progress are recorded after the sink call)."""
    last = max((b for b, _, _ in sink.commits), default=-1)
    end = time.monotonic() + timeout
    while time.monotonic() < end and query.isActive:
        if max((p.batchId for p in query.recentProgress), default=-1) >= last:
            return
        time.sleep(0.02)


def _wait_progress(query, n: int = 1, timeout: float = 60) -> None:
    end = time.monotonic() + timeout
    while len(query.recentProgress) < n and time.monotonic() < end:
        time.sleep(0.02)


def _jsonl_phase(run: Run, pipeline, in_dir: str, expected: dict,
                 junk: list[int]) -> None:
    """Closed drain: the pipeline pulls files as fast as it can for the
    JSON-lines share of the run, then stops between batches."""
    import numpy as np

    from goflow2clickhouse_spark.streaming.metrics import FlowMetricsListener

    spark = run.spark
    listener = FlowMetricsListener()
    spark.streams.addListener(listener)
    out = run.path("sink-jsonl")
    sink = TimedSink(out)
    with run.tracer.span("streaming.ingest.jsonl"):
        t_start = time.monotonic()
        query = pipeline(
            f"jsonl://{in_dir}?maxFilesPerTrigger={JSONL_FILES_PER_TRIGGER}",
            "jsonl_main", sink).start("jsonl_main")
        try:
            total_batches = math.ceil(JSONL_FILES / JSONL_FILES_PER_TRIGGER)
            sink.wait_commits(1, 120)
            t_first = sink.commits[0][2] if sink.commits else t_start
            # the rate needs at least three batches after the first
            window = JSONL_SHARE * run.seconds
            while ((time.monotonic() - t_first < window
                    or len(sink.commits) < 4)
                   and len(sink.commits) < total_batches
                   and query.isActive):
                time.sleep(0.02)
            sink.stop.set()
            # let an in-flight batch finish before stopping
            n = len(sink.commits)
            end = time.monotonic() + 60
            while (query.isActive and time.monotonic() < end
                   and len(sink.commits) == n and not sink.skipped
                   and n < total_batches):
                time.sleep(0.02)
            _wait_reported(query, sink)
        finally:
            query.stop()
    for _, t0, t1 in sink.commits:
        run.tracer.add("sinks.jsonl.write", t0, t1)
    committed = [b for b, _, _ in sink.commits]
    snap = _wait_listener(listener, len(query.recentProgress))
    spark.streams.removeListener(listener)

    # ---- correctness (outside the timed window)
    got = _read_sink(out, committed)
    rows = 0 if got is None else got.num_rows
    seq = got.column("sequence_num").to_numpy() if got is not None else []
    files = sorted({int(s) // gen.FILE_STRIDE for s in seq})
    keep = np.isin(expected["sequence_num"] // gen.FILE_STRIDE, files)
    exp_rows = int(keep.sum())
    planted = sum(junk[f] for f in files)
    lines = exp_rows + planted
    mism = abs(rows - exp_rows)
    if got is not None and rows == exp_rows:
        for c in gen.FLOW_COLUMNS:
            want = expected[c]
            want = (np.asarray(want, dtype=object)[keep]
                    if c in gen.STRING_COLUMNS else want[keep])
            have = got.column(c).to_numpy(zero_copy_only=False)
            bad = int((have != want).sum())
            if bad:
                run.problems.append(f"jsonl column {c}: {bad} rows differ")
            mism = max(mism, bad)
    dup = len(seq) - len(set(int(s) for s in seq))
    prog = _progress_by_batch(query)
    rows_in = dropped = 0
    for b in committed:
        p = prog.get(b)
        for name, row in ((p.observedMetrics or {}).items() if p else ()):
            if str(name).startswith("goflow2_json_decode"):
                rows_in += int(row["rows_in"] or 0)
                dropped += int(row["rows_dropped"] or 0)
    run.attempted += lines
    run.failed += mism + dup + abs(dropped - planted)
    if mism or dup:
        run.problems.append(f"jsonl: {mism} rows wrong or missing, "
                            f"{dup} duplicates")
    if dropped != planted:
        run.problems.append(f"jsonl: dropped {dropped} lines, planted {planted}")
    run.check(rows_in == lines, f"jsonl rows_in {rows_in} != {lines} lines")
    # the metrics listener must agree with Spark's own progress reports
    reported = sum(p.numInputRows for p in query.recentProgress)
    run.check(snap["flows_rows_total"] == reported,
              f"jsonl listener rows_total {snap['flows_rows_total']} != "
              f"{reported} reported")

    # ---- metrics: each batch after the first, its rows over the time
    # since the previous commit (back to back in a drain); the median
    # of those rates, so one stalled batch does not set the figure
    ends = [t1 for _, _, t1 in sink.commits]
    cycle = [b - a for a, b in zip(ends, ends[1:])]
    rates = [_batch_rows(got, b) / c for b, c in zip(committed[1:], cycle)]
    rate = statistics.median(rates) if rates else float("nan")
    p50, tail, pct, n = tail_stats(cycle or [float("nan")])
    run.e2e["throughput_per_s"] = (rate, "1/s")
    run.report += [
        ("ingest_rows_per_s", rate, f"rows/s (median of n={len(rates)} "
         "batches)"),
        ("ingest_batch_p50_s", p50, "s"),
        ("ingest_batch_tail_s", tail, f"s (p{pct:.1f} of n={n} batches)"),
        ("ingest_rows_committed", rows, "rows"),
    ]
    run.layers.update({
        "sources.jsonl.rows_in": (rows_in, "count"),
        "sources.jsonl.rows_dropped": (dropped, "count"),
        "streaming.ingest.jsonl.first_batch_s": (t_first - t_start, "s"),
        "streaming.metrics.jsonl.rows_total": (snap["flows_rows_total"], "count"),
    })
    _stream_layer_stats(run, query, sink, rows, "jsonl")


def _batch_rows(table, batch_id: int) -> int:
    import pyarrow.compute as pc

    return int(pc.sum(pc.equal(table.column("batch_id"), batch_id)).as_py()
               or 0)


def _jsonl_layer_probes(run: Run, in_dir: str) -> None:
    """Self time of each ingest layer. The layers run lazily inside one
    Spark job, so each is timed as the difference of two noop writes
    (best of three): text scan, +from_goflow2_json; decoded rows,
    +flow_transform; +the parquet sink; and each IP function alone on
    the three address columns."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from goflow2clickhouse_spark.functions.ip import (
        ip_string_to_bytes, ip_to_string)
    from goflow2clickhouse_spark.operators.flows import flow_transform
    from goflow2clickhouse_spark.sources.streaming import from_goflow2_json

    spark, tr = run.spark, run.tracer
    paths = [os.path.join(in_dir, f"flows-{f:05d}.json")
             for f in range(JSONL_PROBE_FILES)]
    addr_cols = ("SamplerAddress", "SrcAddr", "DstAddr")
    text = spark.read.text(paths)
    raw_path = run.path("probe-raw")
    from_goflow2_json(text, "value").write.mode("overwrite").parquet(raw_path)
    raw = spark.read.parquet(raw_path)
    addr_str = text.select(F.from_json("value", StructType(
        [StructField(c, StringType()) for c in addr_cols])).alias("m")
    ).select("m.*").na.drop()
    addr_bin = raw.select(*addr_cols)
    with tr.span("sources.jsonl.scan"):
        t_scan = _noop(text)
    with tr.span("sources.jsonl.scan+decode"):
        t_dec = _noop(from_goflow2_json(text, "value"))
    with tr.span("functions.ip.string_to_bytes"):
        s2b = _noop(addr_str.select(*[ip_string_to_bytes(c).alias(c)
                                      for c in addr_cols])) - _noop(addr_str)
    with tr.span("functions.ip.to_string"):
        b2s = _noop(addr_bin.select(*[ip_to_string(c).alias(c)
                                      for c in addr_cols])) - _noop(addr_bin)
    with tr.span("operators.flows.transform"):
        t_raw = _noop(raw)
        t_ft = _noop(flow_transform(raw))
    with tr.span("sinks.parquet_write"):
        t0 = time.monotonic()
        flow_transform(raw).write.mode("overwrite").parquet(
            run.path("probe-sink"))
        t_sink = time.monotonic() - t0
    run.layers.update({
        "sources.jsonl.scan_s": (t_scan, "s"),
        "sources.jsonl.decode_s": (t_dec - t_scan - s2b, "s"),
        "functions.ip.string_to_bytes_s": (s2b, "s"),
        "functions.ip.to_string_s": (b2s, "s"),
        "operators.flows.transform_s": (t_ft - t_raw, "s"),
    })
    run.report += [
        ("sinks.probe_write_s", t_sink - t_ft, "s"),
        ("layer_probe_rows", JSONL_PROBE_FILES * JSONL_ROWS_PER_FILE, "rows"),
    ]


def _single_thread_baseline(run: Run, pipeline, in_dir: str) -> None:
    """The same drain on a local[1] session (scaling reference)."""
    from goflow2clickhouse_spark.session import get_spark

    run.spark.stop()
    run.spark = get_spark(app_name="perfbench-1", master="local[1]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    files = 4
    sink = TimedSink(run.path("sink-1"))
    sub = run.path("jsonl-1")
    os.makedirs(sub, exist_ok=True)
    for f in range(files + 1):
        name = f"flows-{f:05d}.json"
        shutil.copy2(os.path.join(in_dir, name), os.path.join(sub, name))
    with run.tracer.span("streaming.ingest.single_thread"):
        pipeline(f"jsonl://{sub}?maxFilesPerTrigger=1", "single", sink,
                 session=run.spark).start("single", available_now=True
                                          ).awaitTermination()
    ends = [t1 for _, _, t1 in sink.commits]
    # the first batch pays the new session's warm-up; rate over the rest
    rate = (files * JSONL_ROWS_PER_FILE / (ends[-1] - ends[0])
            if len(ends) > 1 else 0.0)
    run.layers["streaming.ingest.single_thread_rows_per_s"] = (rate, "rows/s")


class _UdpInputs:
    """The UDP phase's datagrams: below saturation for UDP_LOW_SHARE of
    the run, above it for UDP_HIGH_SHARE, and a few for warm-up."""

    def __init__(self, run: Run) -> None:
        self.n_low = max(20, int(UDP_RATE_LOW * UDP_LOW_SHARE * run.seconds
                                 / UDP_ROWS_PER_DGRAM))
        self.n_high = max(20, int(UDP_RATE_HIGH * UDP_HIGH_SHARE
                                  * run.seconds / UDP_ROWS_PER_DGRAM))
        self.low, self.kinds_low, self.exp_low = gen.udp_datagrams(
            run.seed, self.n_low, UDP_ROWS_PER_DGRAM, 0)
        self.high, self.kinds_high, self.exp_high = gen.udp_datagrams(
            run.seed, self.n_high, UDP_ROWS_PER_DGRAM, self.n_low)
        self.warm, _, _ = gen.udp_datagrams(
            run.seed + 1_000_003, 8, UDP_ROWS_PER_DGRAM, 10_000_000)
        os.makedirs(run.path("dgrams"), exist_ok=True)
        self.f_low = run.path("dgrams", "low.bin")
        self.f_high = run.path("dgrams", "high.bin")
        gen.write_datagrams(self.f_low, self.low)
        gen.write_datagrams(self.f_high, self.high)


def _udp_phase(run: Run, pipeline, udp: _UdpInputs) -> None:
    """Open loop: the sender process replays the datagrams on schedule
    to a udp:// listener with a 1 s trigger, first below saturation
    (latency), then above it (capacity)."""
    import numpy as np

    from goflow2clickhouse_spark.streaming.metrics import FlowMetricsListener

    spark = run.spark
    n_low, n_high = udp.n_low, udp.n_high
    listener = FlowMetricsListener()
    spark.streams.addListener(listener)
    port = _free_port()
    out = run.path("sink-udp")
    sink = TimedSink(out)
    senders = {}
    t_q = time.monotonic()
    query = pipeline(f"udp://127.0.0.1:{port}?rcvbuf={UDP_RCVBUF}",
                     "udp_main", sink, trigger="1 second").start("udp_main")
    try:
        _wait_progress(query)
        t_listening = time.monotonic() - t_q
        for phase, path, rate in (("low", udp.f_low, UDP_RATE_LOW),
                                  ("high", udp.f_high, UDP_RATE_HIGH)):
            dgram_rate = rate / UDP_ROWS_PER_DGRAM
            start = time.monotonic() + 0.3
            with run.tracer.span(f"streaming.ingest.udp.send_{phase}"):
                proc = subprocess.run(
                    [sys.executable, os.path.join(HERE, "udp_sender.py"),
                     "--file", path, "--port", str(port),
                     "--rate", str(dgram_rate), "--start", repr(start)],
                    capture_output=True, text=True, timeout=120)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res.update(start=start, dgram_rate=dgram_rate)
            senders[phase] = res
            # the query works off what the phase left in the socket, so
            # every batch commits and the query stops between batches
            _wait_idle(query, sink)
        _wait_reported(query, sink)
        # read while the listener's socket is still open
        dropped = _socket_drops(port)
    finally:
        query.stop()
    for _, t0, t1 in sink.commits:
        run.tracer.add("sinks.udp.write", t0, t1)
    committed = [b for b, _, _ in sink.commits]
    snap = _wait_listener(listener, len(query.recentProgress))
    spark.streams.removeListener(listener)

    # ---- correctness (outside the timed window)
    got = _read_sink(out, committed)
    commit_at = {b: t1 for b, _, t1 in sink.commits}
    seq = got.column("sequence_num").to_numpy()
    batch = got.column("batch_id").to_numpy()
    exp = {c: np.concatenate([udp.exp_low[c], udp.exp_high[c]])
           for c in gen.FLOW_COLUMNS}
    low_mask = seq < n_low
    run.check(all(s["valid"] for s in senders.values()),
              f"sender fell behind: {senders}")
    # each arrived datagram must arrive whole, field-equal, once; sFlow
    # time columns are the collector's clock, checked against the run
    wall_lo = int(time.time() - (time.monotonic() - senders["low"]["start"])) - 5
    wall_hi = int(time.time()) + 5
    bad_dgrams = 0
    e_start = np.searchsorted(exp["sequence_num"], seq)
    uniq, first_idx, counts = np.unique(seq, return_index=True,
                                        return_counts=True)
    cols = {c: got.column(c).to_numpy(zero_copy_only=False)
            for c in gen.FLOW_COLUMNS}
    for i0, cnt in zip(first_idx, counts):
        e0 = e_start[i0]
        good = cnt == UDP_ROWS_PER_DGRAM
        for c in gen.FLOW_COLUMNS if good else ():
            have = cols[c][i0:i0 + cnt]
            want = exp[c][e0:e0 + cnt]
            if c in _SFLOW_CLOCK_COLUMNS and want[0] == -1:
                good = bool(((have >= wall_lo) & (have <= wall_hi)).all())
            else:
                good = bool((have == want).all())
            if not good:
                break
        bad_dgrams += not good
    if bad_dgrams:
        run.problems.append(f"udp: {bad_dgrams} datagrams arrived wrong or "
                            "twice")
    arrived_low = int(np.sum(uniq < n_low))
    arrived_high = len(uniq) - arrived_low
    run.attempted += n_low + arrived_high
    run.failed += bad_dgrams + (n_low - arrived_low)
    if arrived_low != n_low:
        run.problems.append(f"udp: {n_low - arrived_low} of {n_low} datagrams "
                            "sent below saturation never arrived")
    # the metrics listener must agree with Spark's progress reports, and
    # those with the sink
    prog = _progress_by_batch(query)
    reported = sum(p.numInputRows for p in prog.values())
    run.check(snap["flows_rows_total"] == reported == got.num_rows,
              f"udp listener rows_total {snap['flows_rows_total']}, "
              f"{reported} reported, {got.num_rows} sink rows")

    # ---- metrics: latency from each datagram's due time to the commit
    # of its batch
    lo = senders["low"]
    lat = [commit_at[int(b)] - (lo["start"] + int(s) / lo["dgram_rate"])
           for s, b in zip(seq[low_mask][::UDP_ROWS_PER_DGRAM],
                           batch[low_mask][::UDP_ROWS_PER_DGRAM])]
    p50, tail, pct, n = tail_stats(lat or [float("nan")])
    high_rows: dict[int, int] = {}
    for b in batch[~low_mask]:
        high_rows[int(b)] = high_rows.get(int(b), 0) + 1
    # rows committed per second of batch execution, over the batches
    # that held the overload phase's datagrams
    busy = sum((prog[b].durationMs or {}).get("triggerExecution", 0)
               for b in high_rows if b in prog) / 1e3
    capacity = sum(high_rows.values()) / busy if busy else 0.0
    run.e2e.update({
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail, "s"),
    })
    run.report += [
        ("udp_latency_p50_s", p50, f"s (at {UDP_RATE_LOW} rows/s)"),
        ("udp_latency_tail_s", tail, f"s (p{pct:.1f} of n={n} datagrams)"),
        ("udp_capacity_rows_per_s", capacity,
         f"rows/s (offered {UDP_RATE_HIGH} rows/s)"),
        ("udp_delivered_high_share", arrived_high / n_high, "ratio"),
        ("udp_sender_late_max_s",
         max(s["late_max_s"] for s in senders.values()), "s"),
        ("udp_sender_late_share",
         max(s["late_share"] for s in senders.values()),
         "ratio (datagrams sent over 10 ms late)"),
    ]
    run.layers.update({
        "sources.udp.socket_dropped": (dropped, "count"),
        "streaming.ingest.udp.first_batch_s": (t_listening, "s"),
        "streaming.metrics.udp.rows_total": (snap["flows_rows_total"], "count"),
    })
    _stream_layer_stats(run, query, sink, got.num_rows, "udp")


_SFLOW_CLOCK_COLUMNS = ("time_received", "time_flow_start", "time_flow_end")


def _udp_layer_probes(run: Run, payloads: list[bytes], kinds: list[str]
                      ) -> None:
    """decode_datagram per protocol and UdpFlowStreamReader.read, called
    directly on the workload's datagrams in this process."""
    from goflow2clickhouse_spark.sources.udp import (
        IpfixDecoder, NetflowV9Decoder, UdpFlowStreamReader, decode_datagram)

    tr = run.tracer
    peer = bytes([127, 0, 0, 1])
    v9, ipfix = NetflowV9Decoder(), IpfixDecoder()
    per: dict[str, list[float]] = {k: [] for k in gen.PROTOCOLS}
    for p, k in zip(payloads, kinds):
        t0 = time.monotonic()
        decode_datagram(p, peer, v9=v9, ipfix=ipfix)
        per[k].append(time.monotonic() - t0)
        tr.add(f"sources.udp.decode.{k}", t0, t0 + per[k][-1])
    for k in gen.PROTOCOLS:
        run.layers[f"sources.udp.decode_us_per_datagram.{k}"] = (
            statistics.median(per[k]) * 1e6 if per[k] else 0.0, "us")
    # the reader: bind, receive one batch worth of datagrams, read()
    port = _free_port()
    reader = UdpFlowStreamReader({"host": "127.0.0.1", "port": str(port),
                                  "rcvbuf": str(UDP_RCVBUF)})
    reader._socket()
    tx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    reads = []
    try:
        for i in range(0, min(len(payloads), 2000), 250):
            for p in payloads[i:i + 250]:
                tx.sendto(p, ("127.0.0.1", port))
            time.sleep(0.05)
            with tr.span("sources.udp.read"):
                t0 = time.monotonic()
                it, _ = reader.read({"count": 0})
                reads.append(time.monotonic() - t0)
            list(it)
    finally:
        tx.close()
        if reader._sock is not None:
            reader._sock.close()
    run.layers["sources.udp.read_s_per_batch"] = (
        statistics.median(reads) if reads else 0.0, "s")


# ---------------------------------------------------------- flow_dashboard

class _Collected:
    """Rows already collected in the timed window, shaped for
    oracle.compare (which only calls .collect() and .columns)."""

    def __init__(self, rows: list, columns: list[str]) -> None:
        self._rows = rows
        self.columns = columns

    def collect(self) -> list:
        return self._rows


def flow_dashboard(run: Run) -> None:
    import random

    sf = run.path("sf")
    gen.write_tables(sf, run.seed, DASHBOARD_SF, CORPUS_SF)
    run.start_session()
    from goflow2clickhouse_spark.plans import registry
    from goflow2clickhouse_spark.plans.flows_view import flows_df

    tr = run.tracer
    reg = registry()
    with tr.span("plans.flows_view.build"):
        t0 = time.monotonic()
        flows_df(run.spark, sf)
        run.setup_extra_s = time.monotonic() - t0
        run.layers["plans.flows_view.build_s"] = (run.setup_extra_s, "s")

    # set-up: the landing query, and a query with a Python UDF, which
    # starts the Python workers
    def warm_up() -> None:
        for name in ("flows_top_talkers", "ipv6_address_classes"):
            reg[name].spark(run.spark, sf).collect()

    run.warm_up(warm_up)
    spark = run.spark

    rng = random.Random(run.seed)
    results: list[tuple[str, list, list[str], float]] = []
    tasks: dict[str, list[int]] = {}
    sc = spark.sparkContext
    t_start = time.monotonic()
    passes = 0
    while passes < 2 or time.monotonic() - t_start < run.seconds:
        order = list(DASHBOARD_QUERIES)
        rng.shuffle(order)
        for name in order:
            if tr.enabled:
                sc.setJobGroup(f"pb-{len(results)}", name)
            with tr.span(f"plans.{name}"):
                t0 = time.monotonic()
                with tr.span(f"plans.{name}.build"):
                    df = reg[name].spark(spark, sf)
                rows = [tuple(r) for r in df.collect()]
                dt = time.monotonic() - t0
            results.append((name, rows, list(df.columns), dt))
            if tr.enabled:
                tasks.setdefault(name, []).append(
                    _group_tasks(sc, f"pb-{len(results) - 1}"))
        passes += 1
    elapsed = time.monotonic() - t_start

    # ---- correctness (outside the timed window)
    from goflow2clickhouse_spark.oracle import compare, duck_connect

    con = duck_connect(sf)
    for name, rows, columns, _ in results:
        res = compare(name, _Collected(rows, columns), reg[name].oracle, con)
        run.check(res.ok, f"{name}: oracle mismatch {res.sample_diff[:2]}")
    con.close()

    lat = [dt for *_, dt in results]
    p50, tail, pct, n = tail_stats(lat)
    qps = len(results) / elapsed
    run.e2e.update({
        "throughput_per_s": (qps, "1/s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail, "s"),
    })
    run.report += [
        ("dashboard_latency_p50_s", p50, "s"),
        ("dashboard_latency_tail_s", tail, f"s (p{pct:.1f} of n={n} queries)"),
        ("dashboard_queries_per_s", qps, "q/s"),
        ("dashboard_passes", passes, "count"),
    ]
    if tr.enabled:
        self_t = totals(tr.spans, self_time=True)
        for name in DASHBOARD_QUERIES:
            mine = [dt for q, *_, dt in results if q == name]
            run.layers[f"plans.{name}.exec_s"] = (statistics.median(mine), "s")
            run.layers[f"plans.{name}.tasks"] = (
                statistics.median(tasks.get(name, [0])), "count")
            run.report.append((f"plans.{name}.self_exec_s",
                               self_t.get(f"plans.{name}", 0.0) / len(mine),
                               "s"))
        _curation_probe(run, sf, reg)


def _group_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    n = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            n += si.numTasks if si else 0
    return n


def _curation_probe(run: Run, sf: str, reg: dict) -> None:
    """The corpus-curation operators: first call (lazy index builds,
    persisted by plans.storage where the query uses it) and a warm
    call, whose result is checked against the DuckDB oracle."""
    from goflow2clickhouse_spark.oracle import compare, duck_connect

    con = duck_connect(sf)
    try:
        for name in CURATION_QUERIES:
            times = []
            for _ in range(2):
                with run.tracer.span(f"operators.{name}"):
                    t0 = time.monotonic()
                    df = reg[name].spark(run.spark, sf)
                    rows = [tuple(r) for r in df.collect()]
                    times.append(time.monotonic() - t0)
            res = compare(name, _Collected(rows, list(df.columns)),
                          reg[name].oracle, con)
            run.check(res.ok, f"{name}: oracle mismatch {res.sample_diff[:2]}")
            run.layers[f"plans.storage.{name}.first_call_s"] = (times[0], "s")
            run.layers[f"operators.{name}.exec_s"] = (times[1], "s")
    finally:
        con.close()


# -------------------------------------------------------------------- main

WORKLOADS = {
    "ingest": ingest,
    "flow_dashboard": flow_dashboard,
}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _environment(run: Run) -> dict:
    spark = run.spark
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "(unset: *)"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "python": sys.version.split()[0],
        "git_commit": commit,
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine under test is the package in this checkout; Spark's
    # Python workers import it too, so put it on their path as well
    sys.path.insert(0, ROOT)
    try:
        import goflow2clickhouse_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]

    run = Run(args, work)
    try:
        with RssSampler() as rss:
            WORKLOADS[args.workload](run)
            env = run.env or _environment(run)
            if run.tracer.enabled:
                per_span = run.tracer.per_span_cost_s()
                run.layers["trace.overhead_s"] = (
                    per_span * len(run.tracer.spans), "s")
                run.layers["trace.spans"] = (len(run.tracer.spans), "count")
                os.makedirs(os.path.join(base, "traces"), exist_ok=True)
                run.tracer.write(os.path.join(
                    base, "traces", f"{args.workload}-{run.tracer.run_id}.json"))
            _stop_spark(run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run.e2e["setup_s"] = (run.setup_s(), "s")
    run.e2e["peak_rss_mb"] = (rss.peak_kb / 1024, "MB")
    failed_ratio = run.failed / max(1, run.attempted)
    print(f"# workload {args.workload} seed {args.seed} "
          f"seconds {args.seconds} trace {args.trace}")
    print("# environment " + json.dumps(env))
    for name, value, unit in run.report:
        print(f"{name} {value} {unit}")
    print(f"failed_ratio {failed_ratio} ratio ({run.failed}/{run.attempted})")
    print(f"setup_parts_s session start {run.session_start_s}, "
          f"lazy builds {run.setup_extra_s}, warm-up {run.warm_up_s} s")
    for p in run.problems[:20]:
        print(f"# problem: {p}")
    if args.trace:
        # layers off this workload's path read 0
        metrics = {n: (run.layers.get(n, (0.0, u))[0], u)
                   for n, u in _per_layer_units().items()}
        for n, (v, u) in sorted(run.layers.items()):
            print(f"{n} {v} {u}")
        print("# traced end-to-end (compare with an untraced run for the "
              "tracing overhead): " + json.dumps(
                  {k: v for k, (v, _) in run.e2e.items()}))
    else:
        metrics = run.e2e
        for n, (v, u) in sorted(metrics.items()):
            print(f"{n} {v} {u}")
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(v), "unit": u}
                    for n, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
