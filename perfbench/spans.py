"""In-memory spans around the program's layer entry points.

``Tracer.wrap(owner, attr)`` replaces a module function or class method
with a wrapper that records a span. The server's handlers look these
names up at call time (module globals, module attributes, class
methods), so wrapping them from the benchmark's launcher traces the
real request path without editing the program.

A span is (id, name, start, end, parent id, request id). Request ids come
from the ``X-Bench-Op`` header, read by the root span around the HTTP
handler. Self time is a span's duration minus the time its direct
children cover; spans of one thread nest strictly, so that is the sum of
the children's durations.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, str, float, float, int, str]] = []
        self._ids = itertools.count()
        self.self_s: dict[tuple[str, str], float] = defaultdict(float)
        self.calls: dict[tuple[str, str], int] = defaultdict(int)
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- request scope -------------------------------------------------
    @property
    def op(self) -> str:
        return getattr(self._local, "op", "-")

    def begin_request(self, op: str) -> None:
        self._local.op = op
        self._local.stack = []

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[(self.op, key)] += value

    # -- spans -----------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        frame = [time.perf_counter(), 0.0, next(self._ids)]
        parent = stack[-1][2] if stack else -1
        stack.append(frame)
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            dur = end - frame[0]
            if stack:
                stack[-1][1] += dur
            op = self.op
            with self._lock:
                self.spans.append((frame[2], name, frame[0], end, parent, op))
                self.self_s[(op, name)] += dur - frame[1]
                self.calls[(op, name)] += 1

    def wrap(self, owner, attr: str, name: str, measure=None) -> None:
        """Trace ``owner.attr`` as span ``name``; ``measure(tracer, args,
        result)`` may record counts at the same boundary."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            result = self.call(name, fn, *args, **kwargs)
            if measure is not None:
                measure(self, args, result)
            return result

        setattr(owner, attr, traced)

    def per_op(self) -> dict[str, dict]:
        """{request id: {"self": {span: s}, "calls": {...}, "counts": {...}}}"""
        out: dict[str, dict] = defaultdict(
            lambda: {"self": {}, "calls": {}, "counts": {}}
        )
        with self._lock:
            for (op, name), v in self.self_s.items():
                out[op]["self"][name] = v
            for (op, name), v in self.calls.items():
                out[op]["calls"][name] = v
            for (op, key), v in self.counts.items():
                out[op]["counts"][key] = v
        return dict(out)


# Layer entry points the server reaches while serving, as (module path,
# owner attribute or None, attribute, span name).
LAYERS = (
    ("agni_spark.protocol.server", None, "handle_read_negotiated", "server.handle_read_negotiated"),
    ("agni_spark.protocol.server", None, "evaluate_query", "server.evaluate_query"),
    ("agni_spark.protocol.server", None, "evaluate_query_chunked", "server.evaluate_query_chunked"),
    ("agni_spark.protocol.server", None, "handle_write", "server.handle_write"),
    ("agni_spark.protocol.server", None, "decode_write", "server.decode_write"),
    ("agni_spark.protocol.server", None, "handle_query_range", "server.handle_query_range"),
    ("agni_spark.protocol.server", None, "eval_promql", "server.eval_promql"),
    ("agni_spark.protocol.remote_pb", None, "decode_read_request", "remote_pb.decode_read_request"),
    ("agni_spark.protocol.remote_pb", None, "encode_read_response", "remote_pb.encode_read_response"),
    ("agni_spark.protocol.remote_pb", None, "encode_chunked_read_response", "remote_pb.encode_chunked_read_response"),
    ("agni_spark.protocol.remote_pb", None, "decode_write_request", "remote_pb.decode_write_request"),
    ("agni_spark.protocol.snappy_codec", None, "compress", "snappy_codec.compress"),
    ("agni_spark.protocol.snappy_codec", None, "decompress", "snappy_codec.decompress"),
    ("agni_spark.querier", "Querier", "select", "querier.select"),
    ("agni_spark.querier", "Querier", "select_series", "querier.select_series"),
    ("agni_spark.sources.layout", None, "write_blocks", "layout.write_blocks"),
    ("agni_spark.sources.layout", None, "refresh_registry", "layout.refresh_registry"),
    ("agni_spark.sources.tsdb_format", None, "encode_xor_chunk", "tsdb_format.encode_xor_chunk"),
    ("agni_spark.sources.converter", None, "spark_read_tsdb_blocks", "converter.spark_read_tsdb_blocks"),
    ("agni_spark.promql_parser", None, "parse", "promql_parser.parse"),
    ("agni_spark.promql_parser", None, "compile_expr", "promql_parser.compile_expr"),
)


def _measure(span: str):
    """Counts recorded at a layer boundary, keyed like the span."""
    if span == "snappy_codec.compress":
        def m(t, args, out):
            t.count("snappy_codec.compress.in_bytes", len(args[0]))
            t.count("snappy_codec.compress.out_bytes", len(out))
        return m
    if span in ("remote_pb.encode_read_response", "remote_pb.encode_chunked_read_response"):
        return lambda t, args, out: t.count(f"{span}.bytes", len(out))
    if span == "tsdb_format.encode_xor_chunk":
        return lambda t, args, out: t.count(f"{span}.samples", len(args[0]))
    return None


def install(tracer: Tracer) -> None:
    import importlib

    for module, owner, attr, span in LAYERS:
        target = importlib.import_module(module)
        if owner is not None:
            target = getattr(target, owner)
        tracer.wrap(target, attr, span, _measure(span))
