#!/usr/bin/env python3
"""Serving benchmark: remote read, remote write and PromQL over HTTP.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 12 --trace 0

Starts ``server.py`` (Spark ``local[nproc/2]`` plus
``protocol.server.RemoteReadServer`` over a seeded store it ingests
itself), warms it up, drives it from this process with one closed-loop
client for ``--seconds``, then decodes and checks every response. The
last stdout line is the result object; the line before it
(``perfbench-report``) carries the full report: per-class latencies,
failures by cause, write and freshness figures, the host-noise record
and every operation's class, start and latency (``timeline``).
``--trace 1`` wraps the program's layer entry points inside the server
and reports per-layer self time, Spark status-store counts and the
per-layer table.

Workloads (see README.md for why each exists):
  read_mix      1 client alternating a narrow read with a heavy one: wide
                reads (SAMPLES or STREAMED_XOR_CHUNKS) and PromQL
                query_range in turn; seeded parameters.
  ingest_mixed  1 client: each writer operation (two POST /write batches,
                then a shipped TSDB block, ...) followed by a read of
                the series it last acknowledged.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("read_mix", "ingest_mixed")
READ_KINDS = ("narrow", "wide", "ingest_read")  # remote reads
# latency_p50_s is the median latency of the first N operations of one
# class in the window (alert/panel reads on read_mix, remote writes on
# ingest_mixed); samples_per_s is samples per second of waiting on the
# first N bulk requests (wide reads returning them, remote writes getting
# them acknowledged). N is what every run of the workload reaches: over
# "all that fitted", a median moved by up to 8 % with whether one more
# operation fitted before the deadline.
LATENCY_OPS = {"read_mix": ("narrow", 4), "ingest_mixed": ("write", 2)}
BULK_OPS = {"read_mix": ("wide", 2), "ingest_mixed": ("write", 2)}
WRITE_KINDS = ("write", "ship")
# Spark's query and write paths are still being compiled over the first
# operations (narrow reads fall from ~2.5 s to ~0.9 s, remote writes
# from ~2.7 s to ~2.2 s); a long-running server pays that once, so the
# window starts after a fixed warm-up sequence:
# read_mix: two turns of the read_mix cycle
WARM_READS = 8
# ingest_mixed: WARM_NARROW narrow reads, then a remote write and a
# block ship, each followed by its read; the window then runs write,
# read, write, read, ship, read, ... over more writer slices than it
# holds
WARM_NARROW = 2
WARM_WRITES = 2
WRITER_OPS = 16

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "samples_per_s": "1/s",
    "stored_bytes_per_sample": "B",
    "cpu_s_per_op": "s",
}
SPANS = (
    "server.request", "server.handle_read_negotiated", "server.evaluate_query",
    "server.evaluate_query_chunked", "server.handle_write", "server.decode_write",
    "server.handle_query_range", "server.eval_promql",
    "remote_pb.decode_read_request", "remote_pb.encode_read_response",
    "remote_pb.encode_chunked_read_response", "remote_pb.decode_write_request",
    "snappy_codec.compress", "snappy_codec.decompress",
    "querier.select", "querier.select_series",
    "layout.write_blocks", "layout.refresh_registry",
    "tsdb_format.encode_xor_chunk", "converter.spark_read_tsdb_blocks",
    "promql_parser.parse", "promql_parser.compile_expr",
)
SPARK = {
    "spark.jobs_per_op": ("jobs", "count"),
    "spark.tasks_per_op": ("tasks", "count"),
    "spark.job_wall_s": ("job_wall_s", "s"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.input_records": ("input_records", "count"),
    "spark.input_bytes": ("input_bytes", "B"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
}
PER_LAYER = {
    **{f"{s}.self_s": "s" for s in SPANS},
    "server.queue_wait_s": "s",
    "remote_pb.encode_read_response.bytes": "B",
    "snappy_codec.compress.ratio": "ratio",
    "querier.series_returned": "count",
    "querier.scan_rows_per_sample_returned": "ratio",
    "layout.refresh_registry.calls": "count",
    "layout.data_files": "count",
    "layout.bytes_written_per_sample": "B",
    "tsdb_format.encode_xor_chunk.samples": "count",
    **{k: unit for k, (_, unit) in SPARK.items()},
    "client.latency_mean_s": "s",
    "client.verify_s": "s",
    "client.ops_per_s": "1/s",
    "client.read_latency_p50_s": "s",
    "client.write_latency_p50_s": "s",
    "client.ingest_samples_per_s": "1/s",
    "client.stale_read_fraction": "ratio",
    "server.peak_rss_mb": "MB",
}


def host_noise() -> dict:
    """Load averages and cumulative CPU steal ticks of this host."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"loadavg": load, "steal_ticks": int(cpu[8]) if len(cpu) > 8 else 0}


def first(records: list[Record], kind_n: tuple[str, int]) -> list[Record]:
    kind, n = kind_n
    return [r for r in records if r.op.kind == kind][:n]


def bulk_rate(records: list[Record]) -> float:
    """Samples returned or acknowledged per second of waiting for the
    requests that succeeded."""
    ok = [r for r in records if not r.fault]
    return sum(r.samples for r in ok) / max(sum(r.latency for r in ok), 1e-9)


def group_cpu_s(pgid: int) -> float:
    """CPU seconds (user + system) used so far by the live processes of
    a process group."""
    total = 0
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid:
                total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def pct(values: list[float], p: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Record:
    __slots__ = ("op", "op_id", "t0", "t1", "status", "body", "error",
                 "acked", "pending", "samples", "series_n", "fault", "stale", "named")

    def __init__(self, op, op_id):
        self.op, self.op_id = op, op_id
        self.t0 = self.t1 = 0.0
        self.status, self.body, self.error = 0, b"", None
        self.acked, self.pending = (), ()
        self.samples, self.series_n = 0, 0
        self.fault, self.stale, self.named = None, None, 0

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


def send(rec: Record, port: int) -> None:
    op = rec.op
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    headers = {"X-Bench-Op": rec.op_id}
    if op.method == "POST":
        headers["Content-Type"] = "application/x-protobuf"
    rec.t0 = time.perf_counter()
    try:
        conn.request(op.method, op.path, body=op.body if op.method == "POST" else None,
                     headers=headers)
        resp = conn.getresponse()
        rec.body = resp.read()
        rec.status = resp.status
    except (OSError, http.client.HTTPException) as e:
        rec.error = f"transport: {type(e).__name__}"
    finally:
        rec.t1 = time.perf_counter()
        conn.close()


class Load:
    """One closed-loop client (it waits for each reply before sending the
    next request); every record is kept for verification."""

    def __init__(self, gen, store, seed: int, ports: dict, stream: int):
        """``stream`` picks the seeded parameter stream and prefixes the
        request ids (the warm-up and the window use different ones)."""
        self.gen, self.store, self.seed, self.ports = gen, store, seed, ports
        self.stream = stream
        self.records: list[Record] = []
        self.acked: list[int] = []
        self.started = 0  # writer slices sent so far

    def _do(self, op, acked: tuple = ()) -> Record:
        rec = Record(op, f"{self.stream}-{len(self.records)}")
        self.records.append(rec)
        rec.acked = acked
        send(rec, self.ports["ship" if op.kind == "ship" else "http"])
        return rec

    def read_mix(self, deadline: float, count: int = -1) -> None:
        ops = self.gen.read_mix_ops(self.store, self.seed, self.stream)
        while time.perf_counter() < deadline and count != 0:
            self._do(next(ops))
            count -= 1

    def narrow(self, count: int) -> None:
        rng = self.gen._rng(self.seed, 30, self.stream)
        for _ in range(count):
            self._do(self.gen.narrow_op(self.store, rng))

    def ingest(self, ops: list, deadline: float) -> None:
        """Each writer operation, then one read of the series the writer
        has acknowledged so far (the latest slice first)."""
        rng = self.gen._rng(self.seed, 20, self.stream)
        for op in ops:
            if time.perf_counter() >= deadline:
                return
            self.started = op.slice_idx + 1
            if self._do(op).status == 200:
                self.acked.append(op.slice_idx)
            if time.perf_counter() >= deadline:
                return
            acked = tuple(self.acked)
            rec = self._do(self.gen.ingest_read_op(self.store, rng, list(acked)), acked)
            rec.pending = tuple(k for k in range(self.started) if k not in acked)


def written(gen, slices: dict, ks, op) -> dict:
    """Samples that writer slices ``ks`` put in the read's range."""
    out: dict = {}
    for k in ks:
        lo = gen.HEAD_MS + k * gen.SLICE_MS
        if lo > op.end_ms or lo + gen.SLICE_MS <= op.start_ms:
            continue
        for key, (ts, vs) in gen.expected_matrix(slices[k], op.matchers, op.start_ms,
                                                 op.end_ms).items():
            acc = out.setdefault(key, ([], []))
            acc[0].extend(ts)
            acc[1].extend(vs)
    return out


def check(gen, verify, store, slices: dict, rec: Record) -> None:
    """Verify one response; sets rec.samples or rec.fault (the cause)."""
    op = rec.op
    if rec.error:
        rec.fault = rec.error
        return
    if rec.status != 200:
        rec.fault = f"http {rec.status}"
        return
    try:
        if op.kind in WRITE_KINDS:
            if int(rec.body) != op.samples:
                raise verify.Mismatch(f"acknowledged {rec.body!r} of {op.samples} samples")
            rec.samples = op.samples
        elif op.kind == "promql":
            rec.samples, rec.named = verify.check_promql(
                rec.body, gen.promql_expected(store, op.spec))
        else:
            got = (verify.decode_streamed(rec.body) if op.streamed
                   else verify.decode_samples(rec.body))
            rec.series_n = len(got)
            base = gen.expected_matrix(store.series, op.matchers, op.start_ms, op.end_ms)
            if op.kind == "ingest_read":
                acked = written(gen, slices, rec.acked, op)
                rec.samples, missing = verify.check_fresh_matrix(
                    got, base, acked, written(gen, slices, rec.pending, op))
                if acked:
                    rec.stale = missing > 0
            else:
                rec.samples = verify.check_matrix(got, base)
    except verify.Mismatch as e:
        rec.fault = f"{op.kind}: {e}"
    except ValueError as e:  # undecodable body
        rec.fault = f"{op.kind}: undecodable ({type(e).__name__})"


class Server:
    """The server process and its stdout protocol."""

    def __init__(self, workload: str, seed: int, work: str, trace: int):
        env = dict(
            os.environ,
            PYTHONPATH=ROOT,
            PYSPARK_PYTHON=sys.executable,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=os.path.join(work, "tmp"),
            JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        )
        os.makedirs(env["TMPDIR"])
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--workload", workload,
             "--seed", str(seed), "--work", work, "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, text=True, start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def message(self, timeout: float) -> dict:
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"server sent nothing for {timeout:.0f} s") from None
        if line is None:
            raise RuntimeError(f"server exited with code {self.proc.wait()}")
        return json.loads(line)

    def request_stats(self) -> None:
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        """Kill the server's process group (Spark's JVM included) and wait
        until every process in it has exited. Nothing in it is left to
        measure or to save: the work directory is removed afterwards."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for _ in range(200):
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        self.log.close()


def layer_metrics(records: list[Record], stats: dict, verify_per_op_s: float,
                  window: tuple[float, float]) -> tuple[dict, list[tuple[str, float]]]:
    """Per-layer means per operation, and the table of self times whose
    parts (plus queue wait) add up to the mean client latency."""
    ops = stats.get("ops", {})
    n = max(len(records), 1)
    total = {s: 0.0 for s in SPANS}
    counts: dict[str, float] = {}
    calls: dict[str, float] = {}
    spark = {k: 0.0 for k in SPARK}
    queue_wait = 0.0
    for rec in records:
        st = ops.get(rec.op_id, {})
        for name, v in st.get("self", {}).items():
            total[name] = total.get(name, 0.0) + v
        for name, v in st.get("calls", {}).items():
            calls[name] = calls.get(name, 0) + v
        for name, v in st.get("counts", {}).items():
            counts[name] = counts.get(name, 0) + v
        for k, (field, _) in SPARK.items():
            spark[k] += st.get("spark", {}).get(field, 0)
        queue_wait += rec.latency - sum(st.get("self", {}).values())
    reads = [r for r in records if r.op.kind in READ_KINDS and not r.fault]
    read_samples = sum(r.samples for r in reads)
    read_records = sum(ops.get(r.op_id, {}).get("spark", {}).get("input_records", 0)
                       for r in reads)
    writes = [r for r in records if r.op.kind in WRITE_KINDS and not r.fault]
    ingested = sum(r.samples for r in writes)
    stale = [r.stale for r in records if r.stale is not None]
    out = {f"{s}.self_s": total[s] / n for s in SPANS}
    out.update({
        "server.queue_wait_s": queue_wait / n,
        "remote_pb.encode_read_response.bytes":
            counts.get("remote_pb.encode_read_response.bytes", 0)
            / max(calls.get("remote_pb.encode_read_response", 0), 1),
        "snappy_codec.compress.ratio":
            counts.get("snappy_codec.compress.in_bytes", 0)
            / max(counts.get("snappy_codec.compress.out_bytes", 0), 1),
        "querier.series_returned":
            sum(r.series_n for r in reads) / max(len(reads), 1),
        "querier.scan_rows_per_sample_returned": read_records / max(read_samples, 1),
        "layout.refresh_registry.calls": calls.get("layout.refresh_registry", 0),
        "layout.data_files": stats["data_files"],
        "layout.bytes_written_per_sample": stats["store_bytes_added"] / max(ingested, 1),
        "tsdb_format.encode_xor_chunk.samples":
            counts.get("tsdb_format.encode_xor_chunk.samples", 0) / n,
        **{k: v / n for k, v in spark.items()},
        "client.latency_mean_s": sum(r.latency for r in records) / n,
        "client.verify_s": verify_per_op_s,
        "client.ops_per_s": window_rate(records, *window, lambda r: 1),
        "client.read_latency_p50_s": pct([r.latency for r in reads], 50),
        "client.write_latency_p50_s": pct([r.latency for r in writes], 50),
        "client.ingest_samples_per_s": window_rate(writes, *window, lambda r: r.samples),
        "client.stale_read_fraction": sum(stale) / max(len(stale), 1),
        "server.peak_rss_mb": stats["peak_rss_mb"],
    })
    table = [(s, total[s] / n) for s in SPANS if total[s]]
    table.append(("server.queue_wait", queue_wait / n))
    return out, table


def window_rate(records: list[Record], start: float, end: float, weight) -> float:
    """Work per second inside [start, end]. Each op's weight is spread
    evenly over its own interval, so an op still running at the end
    counts for the part it spent inside the window: the rate does not
    jump by a whole op when one more happens to finish in time."""
    total = 0.0
    for r in records:
        if r.t1 > r.t0:
            inside = max(0.0, min(r.t1, end) - max(r.t0, start))
            total += weight(r) * inside / (r.t1 - r.t0)
    return total / (end - start)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "agni_spark", "protocol", "server.py")):
        print("perfbench: agni_spark not found beside perfbench/; run from a full "
              "checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    import verify

    noise = {"start": host_noise()}
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    t_spawn = time.perf_counter()
    server = Server(args.workload, args.seed, work, args.trace)
    try:
        store = gen.build_store(args.seed)
        slices: dict[int, list] = {}
        writer_ops = []
        if args.workload == "ingest_mixed":
            for k in range(WRITER_OPS):
                slices[k] = gen.slice_series(store, k)
                writer_ops.append(
                    gen.write_ship_block(store, k, os.path.join(work, "ship", str(k)))
                    if gen.is_ship(k) else gen.write_op(store, k))
        ready = server.message(timeout=150)
        phases = {"ready": time.perf_counter() - t_spawn, "session": ready["session_s"]}
        ports = {"http": ready["port"], "ship": ready["ship_port"]}
        warm = Load(gen, store, args.seed, ports, 1)
        if args.workload == "read_mix":
            warm.read_mix(float("inf"), WARM_READS)
        else:  # a fixed number of writes, so the window's sequence starts alike
            warm.narrow(WARM_NARROW)
            warm.ingest(writer_ops[:WARM_WRITES], float("inf"))
        phases["warmup"] = time.perf_counter() - t_spawn - phases["ready"]
        load = Load(gen, store, args.seed, ports, 0)
        load.acked, load.started = list(warm.acked), warm.started
        cpu0 = group_cpu_s(server.proc.pid)
        start = time.perf_counter()
        deadline = start + args.seconds
        cpu_window: list[float] = []
        timer = threading.Timer(
            args.seconds, lambda: cpu_window.append(group_cpu_s(server.proc.pid) - cpu0))
        timer.start()
        if args.workload == "read_mix":
            load.read_mix(deadline)
        else:
            load.ingest(writer_ops[WARM_WRITES:], deadline)
        timer.join()
        phases["measured"] = max(r.t1 for r in load.records) - start
        server.request_stats()
        t_verify = time.perf_counter()
        for rec in warm.records + load.records:
            check(gen, verify, store, slices, rec)
        verify_s = time.perf_counter() - t_verify
        stats = server.message(timeout=90)
    except (RuntimeError, ValueError, KeyError) as e:
        with open(server.log.name) as f:
            print(f"perfbench: {e}; server log tail:\n{f.read()[-2000:]}", file=sys.stderr)
        return 1
    finally:
        t_close = time.perf_counter()
        server.close()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(HERE, "_work", f"spans-{args.workload}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    phases["teardown"] = time.perf_counter() - t_close
    noise["end"] = host_noise()

    records = load.records
    faults: dict[str, int] = {}
    for r in warm.records + records:
        if r.fault:
            faults[r.fault] = faults.get(r.fault, 0) + 1
    failed = sum(faults.values())
    window = (start, deadline)
    reads = [r for r in records if r.op.kind not in WRITE_KINDS]
    writes = [r for r in records if r.op.kind in WRITE_KINDS]
    key_kind = LATENCY_OPS[args.workload][0]
    key = [r.latency for r in records if r.op.kind == key_kind]
    e2e_ops = window_rate(records, *window, lambda r: 1)
    e2e = {
        "setup_s": statistics.median(ready["setup_s"]),
        "ops_per_s": e2e_ops,
        "latency_p50_s": pct([r.latency for r in first(records, LATENCY_OPS[args.workload])],
                             50),
        "samples_per_s": bulk_rate(first(records, BULK_OPS[args.workload])),
        "stored_bytes_per_sample": stats["store_bytes"] / stats["stored_samples"],
        "cpu_s_per_op": cpu_window[0] / (e2e_ops * args.seconds),
    }
    stale = [r.stale for r in records if r.stale is not None]
    by_class = {}
    for kind in sorted({r.op.kind for r in records}):
        lat = [r.latency for r in records if r.op.kind == kind]
        by_class[kind] = {"n": len(lat), "p50_s": pct(lat, 50), "p90_s": pct(lat, 90)}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup_s": ready["setup_s"],
        "ops": len(records), "warmup_ops": len(warm.records), f"{key_kind}_ops": len(key),
        f"{key_kind}_latency_p50_s": pct(key, 50), f"{key_kind}_latency_p90_s": pct(key, 90),
        "read_latency_p50_s": pct([r.latency for r in reads], 50),
        "read_latency_p90_s": pct([r.latency for r in reads], 90),
        "by_class": by_class,
        "error_rate": failed / (len(warm.records) + len(records)), "failures": faults,
        "write_latency_p50_s": pct([r.latency for r in writes], 50),
        "write_latency_p90_s": pct([r.latency for r in writes], 90),
        "ingest_samples_per_s": window_rate(writes, *window, lambda r: r.samples),
        "stale_read_fraction": (sum(stale) / len(stale)) if stale else None,
        "stale_reads_checked": len(stale),
        "promql_series_with_name_label": sum(r.named for r in records),
        "peak_rss_mb": stats["peak_rss_mb"],
        "verify_s": verify_s, "phases_s": phases, "host": noise,
        "timeline": [(r.op.kind, round(r.t0 - start, 2), round(r.latency, 3))
                     for r in warm.records + records],
    }
    if args.trace:
        metrics, table = layer_metrics(
            records, stats, verify_s / (len(warm.records) + len(records)), window)
        report["layers"] = table
        print(f"per-layer self time per op, {args.workload} "
              f"(mean client latency {metrics['client.latency_mean_s']:.4f} s):",
              file=sys.stderr)
        for name, v in table:
            print(f"  {name:<42} {v:9.4f} s", file=sys.stderr)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    print("perfbench-report " + json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(warm.records) + len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
