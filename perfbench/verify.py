"""Response checks. Every response body is decoded with the program's own
codecs and compared with the answer the generator computed; any
difference raises ``Mismatch`` with a short cause, which the load
generator counts as a failed operation."""

from __future__ import annotations

import json
import math

from agni_spark.protocol import remote_pb as pb
from agni_spark.protocol import snappy_codec as snappy


class Mismatch(Exception):
    """The response is not the expected answer; str() is the cause."""


def decode_samples(body: bytes) -> dict:
    """SAMPLES body -> {labels tuple: (ts list, value list)}."""
    resp = pb.decode_read_response(snappy.decompress(body))
    if len(resp.results) != 1:
        raise Mismatch(f"expected 1 query result, got {len(resp.results)}")
    out = {}
    for ts in resp.results[0]:
        key = tuple(sorted(ts.labels))
        if key in out:
            raise Mismatch(f"series returned twice: {key}")
        out[key] = ([t for _, t in ts.samples], [v for v, _ in ts.samples])
    return out


def decode_streamed(body: bytes) -> dict:
    """STREAMED_XOR_CHUNKS body -> {labels tuple: (ts list, value list)},
    checking frame CRCs, the query index and each chunk's time bounds."""
    from agni_spark.protocol.server import read_chunked_frames
    from agni_spark.sources.tsdb_format import decode_xor_chunk

    try:
        frames = read_chunked_frames(body)
    except ValueError as e:
        raise Mismatch(f"bad frame: {e}") from None
    out: dict = {}
    for frame in frames:
        msg = pb.decode_chunked_read_response(snappy.decompress(frame))
        if msg.query_index != 0:
            raise Mismatch(f"query_index {msg.query_index}")
        for cs in msg.chunked_series:
            key = tuple(sorted(cs.labels))
            ts_list, vals = out.setdefault(key, ([], []))
            for ch in cs.chunks:
                pts = decode_xor_chunk(ch.data)
                if not pts or pts[0][0] != ch.min_time_ms or pts[-1][0] != ch.max_time_ms:
                    raise Mismatch(f"chunk bounds disagree with its samples for {key}")
                ts_list.extend(t for t, _ in pts)
                vals.extend(v for _, v in pts)
    return out


def check_matrix(got: dict, want: dict) -> int:
    """Exact comparison; returns the number of samples."""
    if got.keys() != want.keys():
        missing = len(want.keys() - got.keys())
        extra = len(got.keys() - want.keys())
        raise Mismatch(f"series set differs: {missing} missing, {extra} unexpected")
    n = 0
    for key, (ts, vals) in want.items():
        gts, gvals = got[key]
        if gts != ts:
            raise Mismatch(f"timestamps differ for {dict(key)}: {len(gts)} vs {len(ts)} samples")
        if gvals != vals:
            raise Mismatch(f"values differ for {dict(key)}")
        n += len(ts)
    return n


def check_fresh_matrix(got: dict, base: dict, acked: dict, pending: dict) -> tuple[int, int]:
    """Check a read taken while writes land. ``base`` (the store the
    server opened with) must come back exactly. Beyond it, only samples
    written by acknowledged (``acked``) or in-flight (``pending``) writes
    may appear, each with its written value. Returns (samples returned,
    acknowledged samples in range that the read did not return)."""
    extra_series = got.keys() - base.keys() - acked.keys() - pending.keys()
    if extra_series:
        raise Mismatch(f"unexpected series {dict(next(iter(extra_series)))}")
    n = missing = 0
    for key in base.keys() | acked.keys() | pending.keys():
        gts, gvals = got.get(key, ([], []))
        seen = dict(zip(gts, gvals))
        if len(seen) != len(gts) or gts != sorted(gts):
            raise Mismatch(f"duplicate or unsorted samples for {dict(key)}")
        for t, v in zip(*base.get(key, ([], []))):
            if seen.pop(t, None) != v:
                raise Mismatch(f"store sample missing or wrong for {dict(key)} at {t}")
        written = dict(zip(*pending.get(key, ([], []))))
        ack = dict(zip(*acked.get(key, ([], []))))
        written.update(ack)
        for t, v in seen.items():
            if written.get(t) != v:
                raise Mismatch(f"sample never written for {dict(key)} at {t}")
        missing += len(ack.keys() - seen.keys())
        n += len(gts)
    return n, missing


# eval_promql labels per-series results with the series dim's column
# names, so the metric name arrives as "metric" where Prometheus drops it.
NAME_LABELS = ("metric", "__name__")


def check_promql(body: bytes, want: dict) -> tuple[int, int]:
    """query_range JSON vs the expected {metric labels: [(t, v)]}; values
    compare within the engine's 4-decimal rounding. A metric-name label
    that Prometheus would have dropped is not a failure but is counted.
    Returns (points, series carrying a name label)."""
    try:
        doc = json.loads(body)
    except ValueError:
        raise Mismatch("body is not JSON") from None
    if doc.get("status") != "success":
        raise Mismatch(f"status {doc.get('status')}: {str(doc.get('error'))[:80]}")
    data = doc["data"]
    if data.get("resultType") != "matrix":
        raise Mismatch(f"resultType {data.get('resultType')}")
    got = {}
    named = 0
    for r in data["result"]:
        named += any(n in r["metric"] for n in NAME_LABELS)
        key = tuple(sorted((n, v) for n, v in r["metric"].items() if n not in NAME_LABELS))
        if key in got:
            raise Mismatch(f"series returned twice: {key}")
        got[key] = [(float(t), float(v)) for t, v in r["values"]]
    if got.keys() != want.keys():
        raise Mismatch(
            f"series set differs: {len(want.keys() - got.keys())} missing, "
            f"{len(got.keys() - want.keys())} unexpected"
        )
    n = 0
    for key, pts in want.items():
        gpts = got[key]
        if [t for t, _ in gpts] != [t for t, _ in pts]:
            raise Mismatch(f"step times differ for {dict(key)}")
        for (t, gv), (_, v) in zip(gpts, pts):
            if not math.isclose(gv, v, rel_tol=1e-9, abs_tol=2e-4):
                raise Mismatch(f"value differs for {dict(key)} at {t}: {gv} vs {v}")
        n += len(pts)
    return n, named
