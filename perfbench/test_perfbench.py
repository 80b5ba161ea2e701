"""The benchmark's own checks (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
from agni_spark.protocol import remote_pb as pb  # noqa: E402
from agni_spark.protocol import snappy_codec as snappy  # noqa: E402


def _ops(seed: int, stream: int, n: int) -> list[tuple]:
    store = gen.build_store(seed)
    it = gen.read_mix_ops(store, seed, stream)
    return [(op.kind, op.path, op.body) for op in (next(it) for _ in range(n))]


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.build_store(7), gen.build_store(7), gen.build_store(8)
    assert [s.labels for s in a.series] == [s.labels for s in b.series]
    for x, y in zip(a.series, b.series):
        assert np.array_equal(x.ts, y.ts) and np.array_equal(x.values, y.values)
    assert any(not np.array_equal(x.values, y.values) for x, y in zip(a.series, c.series))
    assert _ops(7, 0, 12) == _ops(7, 0, 12)
    assert _ops(7, 1, 12) != _ops(8, 1, 12)
    assert gen.write_op(a, 1).body == gen.write_op(b, 1).body


def test_read_mix_class_sequence_is_fixed():
    cycle = ["narrow", "wide", "narrow", "promql"] * 2
    assert [k for k, _, _ in _ops(3, 0, 8)] == cycle
    assert [k for k, _, _ in _ops(4, 1, 8)] == cycle


def _samples_body(matrix: dict) -> bytes:
    series = [
        pb.TimeSeries(labels=list(key), samples=list(zip(vals, ts)))
        for key, (ts, vals) in matrix.items()
    ]
    return snappy.compress(pb.encode_read_response(pb.ReadResponse(results=[series])))


def _want(seed: int = 5) -> dict:
    store = gen.build_store(seed)
    op = gen.narrow_op(store, np.random.default_rng(0))
    return gen.expected_matrix(store.series, op.matchers, op.start_ms, op.end_ms)


def test_verification_accepts_the_expected_samples_response():
    want = _want()
    assert verify.check_matrix(verify.decode_samples(_samples_body(want)), want) == sum(
        len(ts) for ts, _ in want.values()
    )


def test_verification_rejects_corrupted_samples_response():
    want = _want()
    key = next(iter(want))
    ts, vals = want[key]
    bad = dict(want)
    bad[key] = (ts, [vals[0] + 0.25] + vals[1:])
    with pytest.raises(verify.Mismatch, match="values differ"):
        verify.check_matrix(verify.decode_samples(_samples_body(bad)), want)
    bad[key] = (ts[:-1], vals[:-1])
    with pytest.raises(verify.Mismatch, match="timestamps differ"):
        verify.check_matrix(verify.decode_samples(_samples_body(bad)), want)
    bad.pop(key)
    with pytest.raises(verify.Mismatch, match="series set differs"):
        verify.check_matrix(verify.decode_samples(_samples_body(bad)), want)


def test_verification_rejects_corrupted_streamed_frame():
    from agni_spark.protocol.server import write_chunked_frame
    from agni_spark.sources.tsdb_format import encode_xor_chunk

    want = _want()
    frames = []
    for key, (ts, vals) in want.items():
        pts = list(zip(ts, vals))
        chunk = pb.Chunk(min_time_ms=ts[0], max_time_ms=ts[-1], type=1,
                         data=encode_xor_chunk(pts))
        msg = pb.ChunkedReadResponse([pb.ChunkedSeries(labels=list(key), chunks=[chunk])])
        frames.append(write_chunked_frame(snappy.compress(pb.encode_chunked_read_response(msg))))
    body = b"".join(frames)
    assert verify.check_matrix(verify.decode_streamed(body), want) > 0
    flipped = bytearray(body)
    flipped[-3] ^= 0x40
    with pytest.raises(verify.Mismatch, match="bad frame"):
        verify.decode_streamed(bytes(flipped))


def test_verification_rejects_wrong_promql_value():
    store = gen.build_store(2)
    spec = gen.promql_spec(np.random.default_rng(1), 1)  # sum by (job) (rate(...))
    want = gen.promql_expected(store, spec)
    doc = {"status": "success", "data": {"resultType": "matrix", "result": [
        {"metric": dict(key), "values": [[t, str(v)] for t, v in pts]}
        for key, pts in want.items()
    ]}}
    assert verify.check_promql(json.dumps(doc).encode(), want)[0] > 0
    doc["data"]["result"][0]["values"][0][1] = "12345.5"
    with pytest.raises(verify.Mismatch, match="value differs"):
        verify.check_promql(json.dumps(doc).encode(), want)


def test_fresh_read_check_counts_stale_and_rejects_phantoms():
    base = {(("a", "1"),): ([1, 2], [1.0, 2.0])}
    acked = {(("a", "1"),): ([3], [3.0])}
    got = {(("a", "1"),): ([1, 2], [1.0, 2.0])}
    assert verify.check_fresh_matrix(got, base, acked, {}) == (2, 1)
    got = {(("a", "1"),): ([1, 2, 3], [1.0, 2.0, 3.0])}
    assert verify.check_fresh_matrix(got, base, acked, {}) == (3, 0)
    got = {(("a", "1"),): ([1, 2, 4], [1.0, 2.0, 4.0])}
    with pytest.raises(verify.Mismatch, match="never written"):
        verify.check_fresh_matrix(got, base, acked, {})


def test_window_rate_counts_the_part_of_an_op_inside_the_window():
    rec = run.Record(None, "0-0")
    rec.t0, rec.t1 = 8.0, 12.0
    assert run.window_rate([rec], 0.0, 10.0, lambda r: 1) == pytest.approx(0.05)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
