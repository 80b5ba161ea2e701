"""Server side of the benchmark: builds the seeded store through the
program's ingest functions, opens a querier on it and serves it with
``protocol.server.RemoteReadServer`` until the load generator says stop.

Run by ``run.py`` as its own process (Spark ``local[nproc/2]`` lives here):

    python3 perfbench/server.py --workload W --seed N --work DIR --trace 0|1

Protocol on stdout: one JSON line when serving starts (ports, set-up
times), then, after any line arrives on stdin, one JSON line of
end-of-run statistics. Set-up runs ``SETUPS`` times into fresh
directories and the last copy is served, so every run starts from an
identical store.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SETUPS = 3


def spark_cores() -> int:
    """Half the host's cores. A read runs a dozen small Spark jobs and
    keeps about one task thread busy, so two lose it nothing; the other
    cores are left to the JVM's compiler and GC threads, this process's
    Python side and the load generator. With ``local[nproc]`` every core
    ran something of the benchmark's, and a run that met CPU steal on
    the shared host slowed by up to 60 %."""
    return max(1, (os.cpu_count() or 4) // 2)


def ingest_store(spark, store: "gen.Store", path: str):
    """Land the generated store with the shipper's own sink and open it
    the way every self-describing store is opened."""
    import numpy as np
    import pandas as pd

    from agni_spark.querier import querier_from_store
    from agni_spark.sources import layout

    samples = pd.DataFrame({
        "series_id": np.concatenate([np.full(len(s.ts), s.sid, np.int64) for s in store.series]),
        "ts_ms": np.concatenate([s.ts for s in store.series]),
        "value": np.concatenate([s.values for s in store.series]),
    })
    layout.write_blocks(spark.createDataFrame(samples), path)
    spark.createDataFrame(
        [(s.sid, dict(s.labels)) for s in store.series],
        "series_id long, labels map<string,string>",
    ).write.parquet(f"{path}/series")
    return querier_from_store(spark, path)


def ship_block(spark, root: str, store_path: str) -> int:
    """agni's shipper beside the server: ingest sealed level-1 TSDB
    blocks into the store, series dim keyed by the same label-set id the
    remote-write receiver derives."""
    from pyspark.sql import functions as F

    from agni_spark.datamodel import label_set_id
    from agni_spark.sources import converter, layout
    from agni_spark.sources import tsdb_format as tf

    rows = converter.spark_read_tsdb_blocks(spark, root).withColumn(
        "labels", F.from_json("labels_json", "map<string,string>")
    ).withColumn("series_id", label_set_id(F.col("labels")))
    layout.write_blocks(rows.select("series_id", "ts_ms", "value"), store_path, mode="append")
    rows.select("series_id", "labels").dropDuplicates(["series_id"]).write.mode(
        "append"
    ).parquet(f"{store_path}/series")
    return sum(
        tf.read_meta(os.path.join(b, "meta.json"))["stats"]["numSamples"]
        for b in converter.discover_blocks(root)
    )


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and all its descendants (JVM included)."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes on disk, parquet data files) under a store directory."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            if n.endswith(".parquet") and f"{os.sep}data{os.sep}" in os.path.join(d, ""):
                files += 1
    return total, files


def spark_op_stats(spark, op_ids: list[str]) -> dict[str, dict]:
    """Per request (job group) totals read from the Spark status store."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for op in op_ids:
        st = dict(jobs=0, tasks=0, job_wall_s=0.0, executor_run_s=0.0,
                  input_records=0, input_bytes=0, shuffle_write_bytes=0)
        for jid in tracker.getJobIdsForGroup(op):
            st["jobs"] += 1
            try:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    st["job_wall_s"] += (done.get().getTime() - sub.get().getTime()) / 1000
            except Exception:  # noqa: BLE001 - job evicted from the status store
                pass
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never ran (skipped)
                    continue
                st["tasks"] += sd.numTasks()
                st["executor_run_s"] += sd.executorRunTime() / 1000
                st["input_records"] += sd.inputRecords()
                st["input_bytes"] += sd.inputBytes()
                st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out[op] = st
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from agni_spark.protocol.server import RemoteReadServer
    from agni_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=spark_cores())
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    writes = args.workload == "ingest_mixed"

    setup_s = []
    srv = None
    for rep in range(SETUPS):
        if srv is not None:
            srv.stop()
        path = os.path.join(args.work, f"store{rep}")
        t0 = time.perf_counter()
        querier = ingest_store(spark, gen.build_store(args.seed), path)
        srv = RemoteReadServer(querier, write_store=path if writes else None, spark=spark)
        srv.start()
        setup_s.append(time.perf_counter() - t0)
    store_bytes0, _ = dir_stats(path)

    tracer = None
    if args.trace:
        from spans import Tracer, install

        tracer = Tracer()
        install(tracer)
        handler = srv.httpd.RequestHandlerClass
        for verb in ("do_POST", "do_GET"):
            orig = getattr(handler, verb)

            def traced(self, _orig=orig):
                op = self.headers.get("X-Bench-Op", "-")
                tracer.begin_request(op)
                spark.sparkContext.setJobGroup(op, "perfbench request")
                tracer.call("server.request", _orig, self)

            setattr(handler, verb, traced)

    ship_srv = None
    if writes:
        class Ship(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802
                root = self.rfile.read(int(self.headers["Content-Length"])).decode()

                def run():
                    return ship_block(spark, root, path)

                try:
                    if tracer is not None:
                        op = self.headers.get("X-Bench-Op", "-")
                        tracer.begin_request(op)
                        spark.sparkContext.setJobGroup(op, "perfbench ship")
                        n = tracer.call("server.request", run)
                    else:
                        n = run()
                except Exception as e:  # noqa: BLE001 - reported to the client
                    self.send_error(500, str(e)[:200])
                    return
                body = str(n).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        ship_srv = ThreadingHTTPServer(("127.0.0.1", 0), Ship)
        threading.Thread(target=ship_srv.serve_forever, daemon=True).start()

    print(json.dumps({
        "ready": True, "port": srv.port,
        "ship_port": ship_srv.server_port if ship_srv else None,
        "session_s": session_s, "setup_s": setup_s,
    }), flush=True)
    sys.stdin.readline()

    store_bytes, data_files = dir_stats(path)
    from agni_spark.sources import layout

    stats = {
        "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
        "store_bytes": store_bytes,
        "store_bytes_added": store_bytes - store_bytes0,
        "stored_samples": int(
            layout.read_registry(spark, path).agg({"num_samples": "sum"}).collect()[0][0]
        ),
        "data_files": data_files,
    }
    if tracer is not None:
        per_op = tracer.per_op()
        spark_stats = spark_op_stats(spark, [op for op in per_op if op != "-"])
        for op, st in spark_stats.items():
            per_op[op]["spark"] = st
        stats["ops"] = per_op
        with open(os.path.join(args.work, "spans.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
    print(json.dumps(stats), flush=True)
    # nothing is left to measure: the load generator ends this process
    # group (the JVM with it) rather than waiting out a graceful stop
    sys.stdin.readline()


if __name__ == "__main__":
    main()
