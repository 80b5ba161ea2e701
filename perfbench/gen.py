"""Seeded inputs for the serving benchmark: the block store, the client
operations and the answer every response is checked against.

Everything here is a pure function of the seed (numpy's PCG64 streams),
so the server process and the load generator rebuild identical data
without exchanging it. The server only ever sees the store and the
request bytes; the expected answers stay in the load generator.

Store shape (scaled so a run fits a small host, see README.md):

- ``http_requests_total``: counter, 4 jobs x 12 instances x 2 codes = 96
  series; integer increments >= 1 with rare resets to 0.
- ``node_memory_bytes``: gauge, 4 jobs x 8 instances = 32 series; half
  carry a ``pod`` label, half do not (the absent-label matcher case).
- ``http_request_duration_ms``: raw latency observations, 4 jobs x 8
  instances = 32 series, read by ``histogram_quantile`` through the
  virtual ``_bucket`` metric.

Each series has one sample every 30 s over the 6 h before ``HEAD_MS``
(three 2 h blocks), with a per-series scrape phase. Values are exact
binary fractions, so sums and maxima compare exactly.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import re
import urllib.parse
from dataclasses import dataclass, field

import numpy as np

BLOCK_MS = 7_200_000
HEAD_MS = (1_700_000_000_000 // BLOCK_MS) * BLOCK_MS
SCRAPE_MS = 30_000
STORE_HOURS = 6
POINTS = STORE_HOURS * 3_600_000 // SCRAPE_MS
JOBS = ("api", "web", "auth", "billing")
HIST_LE = (25.0, 50.0, 100.0, 250.0, 500.0)  # functions.promql.HIST_LE

# ingest_mixed: writer slices past the head; one writer operation in
# SHIP_EVERY ships a sealed TSDB block instead of a remote-write batch
SLICE_MS = 40 * 60_000
SLICE_POINTS = SLICE_MS // SCRAPE_MS
SHIP_EVERY = 3


def is_ship(k: int) -> bool:
    """Writer slice k ships a block: slices 1, 4, 7, ... The load
    generator sends slices 0-1 as warm-up, so the measured window runs
    write, write, ship, write, ... and its ship is not the JVM's first
    (that one starts Spark's Python worker and varied from 3.7 to
    4.9 s). One in three rather than one in five keeps a ship inside
    every 12 s window."""
    return k % SHIP_EVERY == 1

WIRE_OPS = {"=": 0, "!=": 1, "=~": 2, "!~": 3}


def series_id(labels: tuple[tuple[str, str], ...]) -> int:
    """The engine's series identity: 60-bit md5 prefix of the canonical
    sorted ``n=v,...`` string (``server.decode_write`` and
    ``datamodel.label_set_id`` compute the same value)."""
    key = ",".join(f"{n}={v}" for n, v in sorted(labels))
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


@dataclass
class Series:
    labels: tuple[tuple[str, str], ...]  # sorted, includes __name__
    sid: int
    ts: np.ndarray  # int64 ms, ascending
    values: np.ndarray  # float64

    def label(self, name: str) -> str:
        return dict(self.labels).get(name, "")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _counter_values(rng: np.random.Generator, n: int, start: float) -> np.ndarray:
    lam = int(rng.integers(2, 20))
    inc = rng.integers(1, 2 * lam, size=n).astype(np.float64)
    vals = start + np.cumsum(inc)
    resets = np.flatnonzero(rng.random(n) < 1 / 400)
    for r in resets:  # a restart: the counter drops to 0 and climbs again
        vals[r:] -= vals[r]
    return vals


def _gauge_values(rng: np.random.Generator, n: int) -> np.ndarray:
    base = int(rng.integers(4_000, 16_000))
    steps = rng.integers(-40, 41, size=n)
    return (base + np.cumsum(steps)).astype(np.float64) / 4


def _duration_values(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, 1_200, size=n).astype(np.float64) / 2


@dataclass
class Store:
    seed: int
    series: list[Series]
    instances: tuple[str, ...]


def build_store(seed: int) -> Store:
    """The seeded store the server ingests during set-up."""
    rng = _rng(seed, 0)
    instances = tuple(
        f"host-{i:02d}" for i in sorted(rng.choice(100, size=12, replace=False))
    )
    start = HEAD_MS - STORE_HOURS * 3_600_000
    specs: list[tuple[dict[str, str], str]] = []
    for job in JOBS:
        for inst in instances:
            for code in ("200", "500"):
                specs.append(
                    ({"__name__": "http_requests_total", "job": job,
                      "instance": inst, "code": code}, "counter")
                )
        for k, inst in enumerate(instances[:8]):
            lab = {"__name__": "node_memory_bytes", "job": job, "instance": inst}
            if rng.random() < 0.5:
                lab["pod"] = f"pod-{job}-{k}"
            specs.append((lab, "gauge"))
            specs.append(
                ({"__name__": "http_request_duration_ms", "job": job,
                  "instance": inst}, "duration")
            )
    series = []
    for idx, (lab, kind) in enumerate(specs):
        r = _rng(seed, 1, idx)
        phase = int(r.integers(0, SCRAPE_MS))
        ts = start + phase + np.arange(POINTS, dtype=np.int64) * SCRAPE_MS
        if kind == "counter":
            vals = _counter_values(r, POINTS, float(r.integers(0, 1_000)))
        elif kind == "gauge":
            vals = _gauge_values(r, POINTS)
        else:
            vals = _duration_values(r, POINTS)
        labels = tuple(sorted(lab.items()))
        series.append(Series(labels, series_id(labels), ts, vals))
    return Store(seed, series, instances)


# ---------------------------------------------------------------------------
# matchers and expected remote-read answers
# ---------------------------------------------------------------------------
Matchers = tuple[tuple[str, str, str], ...]  # (op, name, value)


def matches(s: Series, matchers: Matchers) -> bool:
    """Prometheus matcher semantics: an absent label reads as ""."""
    for op, name, value in matchers:
        v = s.label(name)
        if op == "=":
            ok = v == value
        elif op == "!=":
            ok = v != value
        elif op == "=~":
            ok = re.fullmatch(value, v) is not None
        else:
            ok = re.fullmatch(value, v) is None
        if not ok:
            return False
    return True


def expected_matrix(
    series: list[Series], matchers: Matchers, start_ms: int, end_ms: int
) -> dict:
    """{labels: (ts list, value list)}: samples with start <= t <= end
    (both inclusive) per matching series; series with no sample in range
    are absent, as the server returns them."""
    out = {}
    for s in series:
        if not matches(s, matchers):
            continue
        lo = int(np.searchsorted(s.ts, start_ms, "left"))
        hi = int(np.searchsorted(s.ts, end_ms, "right"))
        if hi > lo:
            out[s.labels] = (s.ts[lo:hi].tolist(), s.values[lo:hi].tolist())
    return out


# ---------------------------------------------------------------------------
# expected PromQL answers (the engine's documented semantics: tumbling
# buckets of the range window, sliding windows for max_over_time when the
# step divides the window; selections are inclusive of both bounds)
# ---------------------------------------------------------------------------
def _round_half_up(x: float, nd: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


def _increase_buckets(ts: np.ndarray, vals: np.ndarray, bucket_ms: int) -> dict:
    if len(ts) < 2:
        return {}
    prev, cur = vals[:-1], vals[1:]
    contrib = np.where(cur >= prev, cur - prev, cur)
    buckets = (ts[1:] // bucket_ms) * bucket_ms
    out: dict[int, float] = {}
    for b, c in zip(buckets.tolist(), contrib.tolist()):
        out[b] = out.get(b, 0.0) + c
    return {b: _round_half_up(v, 4) for b, v in out.items()}


def _clip(s: Series, start_ms: int, end_ms: int) -> tuple[np.ndarray, np.ndarray]:
    lo = int(np.searchsorted(s.ts, start_ms, "left"))
    hi = int(np.searchsorted(s.ts, end_ms, "right"))
    return s.ts[lo:hi], s.values[lo:hi]


def _no_name(labels) -> tuple:
    return tuple((n, v) for n, v in labels if n != "__name__")


def promql_expected(store: "Store | list[Series]", spec: dict) -> dict:
    """{metric-labels tuple: [(t_seconds, value), ...]} for one template.
    Functions drop the metric name, as Prometheus does."""
    series = store.series if isinstance(store, Store) else store
    kind, start, end = spec["kind"], spec["start_ms"], spec["end_ms"]
    out: dict[tuple, list] = {}
    if kind in ("rate", "increase"):
        rng_ms = spec["range_ms"]
        for s in series:
            if not matches(s, spec["matchers"]):
                continue
            inc = _increase_buckets(*_clip(s, start, end), rng_ms)
            if not inc:
                continue
            div = rng_ms / 1000.0 if kind == "rate" else 1.0
            out[_no_name(s.labels)] = [(b / 1000.0, v / div) for b, v in sorted(inc.items())]
    elif kind in ("sum_rate", "ratio"):
        def per_job(matchers):
            acc: dict[tuple[str, int], float] = {}
            for s in series:
                if not matches(s, matchers):
                    continue
                for b, v in _increase_buckets(*_clip(s, start, end), 300_000).items():
                    k = (s.label("job"), b)
                    acc[k] = acc.get(k, 0.0) + v / 300.0
            return {k: _round_half_up(v, 4) for k, v in acc.items()}

        num = per_job(spec["matchers"])
        if kind == "ratio":
            den = per_job(spec["den_matchers"])
            num = {k: num[k] / den[k] for k in num if k in den}
        for (job, b), v in sorted(num.items()):
            out.setdefault((("job", job),), []).append((b / 1000.0, v))
    elif kind == "max_over_time":
        win, step = spec["range_ms"], spec["step_ms"]
        for s in series:
            if not matches(s, spec["matchers"]):
                continue
            ts, vals = _clip(s, start, end)
            acc: dict[int, float] = {}
            for t, v in zip(ts.tolist(), vals.tolist()):
                last = (t // step) * step
                for w in range(last - win + step, last + step, step):
                    acc[w] = max(acc.get(w, -math.inf), v)
            if acc:
                out[_no_name(s.labels)] = [(w / 1000.0, v) for w, v in sorted(acc.items())]
    elif kind == "histogram_quantile":
        q, bucket = spec["q"], spec["range_ms"]
        counts: dict[tuple[str, int], list[int]] = {}
        for s in series:
            if not matches(s, spec["matchers"]):
                continue
            ts, vals = _clip(s, start, end)
            for t, v in zip(ts.tolist(), vals.tolist()):
                c = counts.setdefault((s.label("job"), (t // bucket) * bucket),
                                      [0] * (len(HIST_LE) + 1))
                for i, le in enumerate(HIST_LE):
                    if v <= le:
                        c[i] += 1
                c[-1] += 1
        for (job, b), c in sorted(counts.items()):
            les = list(HIST_LE) + [math.inf]
            rank = q * c[-1]
            prev_cum, prev_le = 0, 0.0
            for le, cum in zip(les, c):
                if cum >= rank and prev_cum < rank:
                    if le == math.inf:
                        val = HIST_LE[-1]
                    else:
                        val = prev_le + (le - prev_le) * (rank - prev_cum) / (cum - prev_cum)
                    val = math.floor(val * 1e6 + 0.5) / 1e6
                    out.setdefault((("job", job),), []).append((b / 1000.0, val))
                    break
                prev_cum, prev_le = cum, le
    else:
        raise ValueError(f"unknown PromQL template {kind!r}")
    return out


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------
@dataclass
class Op:
    kind: str  # narrow | wide | promql | write | ship | ingest_read
    method: str
    path: str
    body: bytes = b""
    streamed: bool = False
    matchers: Matchers = ()
    start_ms: int = 0
    end_ms: int = 0
    spec: dict = field(default_factory=dict)
    samples: int = 0  # samples carried by a write/ship
    slice_idx: int = -1  # writer slice, for ingest_mixed bookkeeping


def encode_read(matchers: Matchers, start_ms: int, end_ms: int, streamed: bool) -> bytes:
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy

    q = pb.Query(
        start_ms, end_ms,
        [pb.LabelMatcher(WIRE_OPS[op], n, v) for op, n, v in matchers],
    )
    req = pb.ReadRequest(
        [q],
        accepted_response_types=(
            [pb.RESPONSE_STREAMED_XOR_CHUNKS] if streamed else [pb.RESPONSE_SAMPLES]
        ),
    )
    return snappy.compress(pb.encode_read_request(req))


def read_op(kind: str, matchers: Matchers, start_ms: int, end_ms: int,
            streamed: bool = False) -> Op:
    return Op(kind, "POST", "/read", encode_read(matchers, start_ms, end_ms, streamed),
              streamed=streamed, matchers=matchers, start_ms=start_ms, end_ms=end_ms)


def narrow_matchers(store: Store, rng: np.random.Generator) -> Matchers:
    """An alert/panel selector using all four matcher kinds at once
    (``=``, ``=~``, ``!=`` and an absent ``pod`` label): gauges of two
    jobs, one instance excluded, only series without a pod, about 7
    series. Every narrow read has this one shape, so its latency does
    not hinge on which shapes a run happens to hold."""
    j1, j2 = rng.choice(JOBS, size=2, replace=False)
    return (("=", "__name__", "node_memory_bytes"), ("=~", "job", f"{j1}|{j2}"),
            ("!=", "instance", str(rng.choice(store.instances[:8]))), ("=", "pod", ""))


def narrow_op(store: Store, rng: np.random.Generator) -> Op:
    """1 h range; most end at the head, a seeded share at older offsets."""
    end = HEAD_MS
    if rng.random() < 0.3:
        end -= int(rng.integers(1, 5 * 3_600_000 // SCRAPE_MS)) * SCRAPE_MS
    return read_op("narrow", narrow_matchers(store, rng), end - 3_600_000, end)


def wide_op(rng: np.random.Generator, streamed: bool) -> Op:
    """Whole-metric backfill read over 5 of the store's 6 h, ending in
    its last hour (SAMPLES and STREAMED_XOR_CHUNKS alternate per client)."""
    end = HEAD_MS - int(rng.integers(0, 60)) * 60_000
    matchers = (("=", "__name__", "http_requests_total"),)
    if rng.random() < 0.5:
        matchers += (("=~", "job", ".+"),)
    return read_op("wide", matchers, end - 5 * 3_600_000, end, streamed=streamed)


# (template, range in hours); the range is fixed per template so a
# run's cost does not hinge on which ranges the seed drew
PROMQL_TEMPLATES = (("rate", 3), ("sum_rate", 5), ("max_over_time", 5),
                    ("histogram_quantile", 5), ("increase", 5), ("ratio", 3))


def promql_spec(rng: np.random.Generator, template: int) -> dict:
    job = str(rng.choice(JOBS))
    kind, hours = PROMQL_TEMPLATES[template % len(PROMQL_TEMPLATES)]
    end = HEAD_MS - int(rng.integers(0, 60)) * 60_000
    start = end - hours * 3_600_000
    step_s = int(rng.choice([60, 300, 900, 3600]))
    counter = (("=", "__name__", "http_requests_total"),)
    spec = {"kind": kind, "start_ms": start, "end_ms": end, "step_ms": step_s * 1000}
    if kind == "rate":
        spec.update(matchers=counter + (("=", "job", job),), range_ms=300_000,
                    query=f'rate(http_requests_total{{job="{job}"}}[5m])')
    elif kind == "increase":
        spec.update(matchers=counter + (("=", "job", job), ("=", "code", "500")),
                    range_ms=3_600_000,
                    query=f'increase(http_requests_total{{job="{job}",code="500"}}[1h])')
    elif kind == "sum_rate":
        spec.update(matchers=counter,
                    query="sum by (job) (rate(http_requests_total[5m]))")
    elif kind == "ratio":
        spec.update(matchers=counter + (("=", "code", "500"),), den_matchers=counter,
                    query='sum by (job) (rate(http_requests_total{code="500"}[5m]))'
                          " / sum by (job) (rate(http_requests_total[5m]))")
    elif kind == "max_over_time":
        step_s = int(rng.choice([600, 900, 1200]))
        spec.update(matchers=(("=", "__name__", "node_memory_bytes"), ("=", "job", job)),
                    range_ms=3_600_000, step_ms=step_s * 1000,
                    query=f'max_over_time(node_memory_bytes{{job="{job}"}}[1h])')
    else:
        q = float(rng.choice([0.5, 0.9, 0.99]))
        spec.update(matchers=(("=", "__name__", "http_request_duration_ms"),),
                    range_ms=300_000, q=q,
                    query=f"histogram_quantile({q}, sum by (le, job) "
                          "(rate(http_request_duration_ms_bucket[5m])))")
    return spec


def promql_op(rng: np.random.Generator, template: int) -> Op:
    spec = promql_spec(rng, template)
    qs = urllib.parse.urlencode({
        "query": spec["query"], "start": spec["start_ms"] / 1000,
        "end": spec["end_ms"] / 1000, "step": spec["step_ms"] // 1000,
    })
    return Op("promql", "GET", f"/api/v1/query_range?{qs}", spec=spec,
              start_ms=spec["start_ms"], end_ms=spec["end_ms"])


# read_mix: one client whose operations alternate a narrow read with a
# heavy one (wide SAMPLES, PromQL, wide STREAMED, PromQL, ...). On a
# 4-vCPU host a second client would mostly make each latency depend on
# what it happened to overlap.
READ_MIX_CYCLE = ("narrow", "wide", "narrow", "promql")


def read_mix_ops(store: Store, seed: int, stream: int):
    """Endless op stream of the read_mix client. The class sequence, the
    PromQL template rotation and the SAMPLES/STREAMED alternation are
    fixed; the seed draws every parameter inside them."""
    rng = _rng(seed, 10, stream)
    n = {"narrow": 0, "wide": 0, "promql": 0}
    for i in itertools.count():
        kind = READ_MIX_CYCLE[i % len(READ_MIX_CYCLE)]
        if kind == "narrow":
            yield narrow_op(store, rng)
        elif kind == "wide":
            yield wide_op(rng, streamed=n[kind] % 2 == 1)
        else:
            yield promql_op(rng, n[kind])
        n[kind] += 1


# ---------------------------------------------------------------------------
# ingest_mixed writer inputs
# ---------------------------------------------------------------------------
def slice_series(store: Store, k: int) -> list[Series]:
    """The samples of writer slice k, for series of the store's
    vocabulary, at timestamps past the head. Remote-write slices carry
    the counter and gauge series (~10 k samples); shipped slices carry
    the duration series as one sealed level-1 TSDB block."""
    start = HEAD_MS + k * SLICE_MS
    ship = is_ship(k)
    out = []
    for idx, s in enumerate(store.series):
        metric = s.label("__name__")
        if ship != (metric == "http_request_duration_ms"):
            continue
        r = _rng(store.seed, 2, k, idx)
        ts = start + int(s.ts[0] % SCRAPE_MS) + np.arange(SLICE_POINTS, dtype=np.int64) * SCRAPE_MS
        if metric == "http_requests_total":
            vals = _counter_values(r, SLICE_POINTS, float(s.values[-1]))
        elif metric == "node_memory_bytes":
            vals = _gauge_values(r, SLICE_POINTS)
        else:
            vals = _duration_values(r, SLICE_POINTS)
        out.append(Series(s.labels, s.sid, ts, vals))
    return out


def write_op(store: Store, k: int) -> Op:
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy

    batch = slice_series(store, k)
    req = pb.WriteRequest([
        pb.TimeSeries(labels=list(s.labels),
                      samples=list(zip(s.values.tolist(), s.ts.tolist())))
        for s in batch
    ])
    return Op("write", "POST", "/write", snappy.compress(pb.encode_write_request(req)),
              samples=sum(len(s.ts) for s in batch), slice_idx=k)


def write_ship_block(store: Store, k: int, root: str) -> Op:
    """Materialize slice k as a sealed TSDB block under ``root`` and
    return the op that asks the shipper to ingest it."""
    from agni_spark.sources import converter

    batch = slice_series(store, k)
    ulid = f"BLK{HEAD_MS + k * SLICE_MS:023d}"
    converter.write_block(
        f"{root}/{ulid}",
        [(dict(s.labels), list(zip(s.ts.tolist(), s.values.tolist()))) for s in batch],
        ulid,
    )
    return Op("ship", "POST", "/ship", root.encode(),
              samples=sum(len(s.ts) for s in batch), slice_idx=k)


def ingest_read_op(store: Store, rng: np.random.Generator, acked: list[int]) -> Op:
    """A read_narrow-shaped read over the series of the most recently
    acknowledged writer slice (the store head before any ack)."""
    if not acked:
        return narrow_op(store, rng)
    k = acked[-1]
    job = str(rng.choice(JOBS))
    if is_ship(k):
        a, b = rng.choice(list(store.instances[:8]), size=2, replace=False)
        matchers = (("=", "__name__", "http_request_duration_ms"), ("=", "job", job),
                    ("=~", "instance", f"{a}|{b}"))
    else:
        matchers = narrow_matchers(store, rng)
    end = HEAD_MS + (k + 1) * SLICE_MS - 1
    return read_op("ingest_read", matchers, end - 3_600_000, end)
