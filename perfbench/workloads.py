"""The benchmark's three workloads. Each is a closed loop with one client:
an operation starts only when the previous one has returned.

``store_ohlcv`` drives the ``Store``/``Item`` surface on generated OHLCV
bars; ``queries_build`` and ``queries_exec`` run fixed query mixes over
the committed ``data/sf0.01`` tables. Every operation runs inside a span
(see ``tracing.py``) whose ``op`` attribute names it; a span that raised
or failed its output check carries ``failed``.
"""

from __future__ import annotations

import hashlib
import json
import sys
from datetime import datetime
from decimal import Decimal
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
SF_DIR = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"


class Ops:
    """Operations attempted and failed in one run; a failed output check
    counts as a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, span: dict | None, what: str) -> None:
        self.failed += 1
        if span is not None:
            span["failed"] = True
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)


# -- store_ohlcv ------------------------------------------------------------

PROTOCOLS = ("rename", "manifest")
KEY = "OHLCV"
FREQ = pd.Timedelta(minutes=15)
FIRST_BAR = pd.Timestamp("2021-01-01")
LAST_BAR = pd.Timestamp("2023-12-31 23:45")
DAY = pd.Timedelta(days=1)
BACKFILL = pd.Timedelta(days=395)  # 13 months, so it always spans a year boundary
SLICE_WIDTHS = (DAY, pd.Timedelta(days=7), pd.Timedelta(days=30), BACKFILL)
SLICES_PER_ITEM = 2
ROW_BYTES = 48  # DATE plus five 8-byte columns, uncompressed
WRITES = ("write", "append", "backfill", "vacuum")


def bars(index: pd.DatetimeIndex, rng: np.random.Generator) -> pd.DataFrame:
    """A random-walk OHLCV frame on ``index``."""
    n = len(index)
    close = 100.0 * np.exp(np.cumsum(rng.normal(0.0, 0.001, n)))
    opn = close * (1.0 + rng.normal(0.0, 0.0005, n))
    spread = np.abs(rng.normal(0.0, 0.0008, n))
    return pd.DataFrame(
        {
            "Open": opn,
            "High": np.maximum(opn, close) * (1.0 + spread),
            "Low": np.minimum(opn, close) * (1.0 - spread),
            "Close": close,
            "Volume": rng.integers(0, 50_000, n),
        },
        index=pd.DatetimeIndex(index, name="Date"),
    )


def files_under(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for p in root.rglob("*"):
        if p.is_file():
            st = p.stat()
            out[str(p)] = (st.st_size, st.st_mtime_ns)
    return out


class StoreOHLCV:
    """One item per commit protocol, 3 years of 15-minute bars each
    (105,120 rows, 3 year partitions). A pass gives each item one daily
    append (one day overlapping, one fresh), two slices of mixed width and
    position, one hourly resample over a month and one 13-month backfill;
    the manifest item is vacuumed after its backfill. Set-up writes both
    items, then runs one pass with a single slice per item and one full
    pass, untimed. The benchmark keeps the expected index of every item and
    checks each result against it."""

    def __init__(self, spark, tracer, ops: Ops, rng: np.random.Generator, root: Path) -> None:
        self.spark, self.tracer, self.ops, self.rng, self.root = spark, tracer, ops, rng, root
        self.stores: dict = {}
        self.model: dict[str, np.ndarray] = {}
        self.slices = dict.fromkeys(PROTOCOLS, 0)

    def setup(self) -> None:
        from oakstore_spark import Store

        index = pd.date_range(FIRST_BAR, LAST_BAR, freq=FREQ)
        for proto in PROTOCOLS:
            store = Store(self.root / proto, spark=self.spark, commit_protocol=proto)
            self.stores[proto] = store
            frame = bars(index, self.rng)
            self._op("write", "setup", proto, lambda: store.__setitem__(KEY, frame), rows=len(frame))
            self.model[proto] = index.values
        self.run_pass("warmup", slices=1)
        self.run_pass("warmup")

    def run_pass(self, trace: str, slices: int = SLICES_PER_ITEM) -> None:
        for proto in PROTOCOLS:
            self._append(trace, proto)
            for _ in range(slices):
                self._slice(trace, proto)
            self._resample(trace, proto)
            self._backfill(trace, proto)
            if proto == "manifest":
                store = self.stores[proto]
                self._op("vacuum", trace, proto, lambda: store.vacuum(KEY, retention_sec=0))

    def finish(self) -> dict:
        """Checks each item's row count against the set-up rows plus the
        fresh rows, which holds only if every overlapping row was dropped
        by the dedup; returns Parquet bytes on disk per live row."""
        disk, live = 0, 0
        for proto, store in self.stores.items():
            self.ops.attempted += 1
            with self.tracer.span("check.count", "finish", proto=proto) as span:
                n = store[KEY].df().count()
            if n != len(self.model[proto]):
                self.ops.fail(span, f"{proto} row count {n} != {len(self.model[proto])}")
            disk += sum(p.stat().st_size for p in (self.root / proto).rglob("*.parquet"))
            live += len(self.model[proto])
        return {"disk_bytes_per_row": disk / live}

    # -- operations -----------------------------------------------------------

    def _op(self, kind: str, trace: str, proto: str, fn, **attrs):
        self.ops.attempted += 1
        before = files_under(self.root / proto) if self.tracer.traced and kind in WRITES else None
        result, span = None, None
        try:
            with self.tracer.span(f"store.{kind}", trace, op=kind, proto=proto, **attrs) as span:
                result = fn()
        except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
            self.ops.fail(span, f"store.{kind} ({proto}): {e!r}")
            return None
        if before is not None:
            after = files_under(self.root / proto)
            new = [k for k, v in after.items() if before.get(k) != v]
            span["bytes_written"] = sum(after[k][0] for k in new)
            span["files_written"] = len(new)
            span["bytes_removed"] = sum(v[0] for k, v in before.items() if k not in after)
        return result, span

    def _fresh_day(self, proto: str) -> pd.DatetimeIndex:
        last = pd.Timestamp(self.model[proto][-1])
        return pd.date_range(last + FREQ, periods=int(DAY / FREQ), freq=FREQ)

    def _append_rows(self, trace: str, kind: str, proto: str, overlap: np.ndarray) -> None:
        fresh = self._fresh_day(proto)
        index = pd.DatetimeIndex(np.concatenate([overlap, fresh.values]))
        frame = bars(index, self.rng)
        store = self.stores[proto]

        def append():
            store[KEY] += frame

        if self._op(kind, trace, proto, append, rows=len(frame)) is not None:
            self.model[proto] = np.concatenate([self.model[proto], fresh.values])

    def _append(self, trace: str, proto: str) -> None:
        model = self.model[proto]
        self._append_rows(trace, "append", proto, model[-int(DAY / FREQ):])

    def _backfill(self, trace: str, proto: str) -> None:
        model = self.model[proto]
        self._append_rows(trace, "backfill", proto, model[model > model[-1] - BACKFILL])

    def _window(self, width: pd.Timedelta) -> tuple[datetime, datetime]:
        """A day-aligned window of ``width`` inside the oldest data or the
        most recent year, chosen by the seeded generator."""
        first = FIRST_BAR
        last = pd.Timestamp(max(m[-1] for m in self.model.values())).normalize()
        year = pd.Timedelta(days=365)
        lo, hi = (first, first + year) if self.rng.random() < 0.5 else (last - year, last)
        hi = min(hi, last - width - DAY)
        lo = min(lo, hi)
        days = (hi - lo).days
        start = lo + pd.Timedelta(days=int(self.rng.integers(0, days + 1)))
        return start.to_pydatetime(), (start + width).to_pydatetime()

    def _expected(self, proto: str, a: datetime, b: datetime) -> np.ndarray:
        m = self.model[proto]
        return m[(m >= np.datetime64(a)) & (m <= np.datetime64(b))]

    def _slice(self, trace: str, proto: str) -> None:
        # widths cycle, so every run times the same mix; positions are seeded
        width = SLICE_WIDTHS[self.slices[proto] % len(SLICE_WIDTHS)]
        self.slices[proto] += 1
        a, b = self._window(width)
        item = self.stores[proto][KEY]
        out = self._op("slice", trace, proto, lambda: item[a:b], width=f"{width.days}d")
        if out is None:
            return
        got, span = out
        want = self._expected(proto, a, b)
        span["rows"] = len(got)
        ok = len(got) == len(want) and (
            len(want) == 0
            or (got.index[0] == pd.Timestamp(want[0]) and got.index[-1] == pd.Timestamp(want[-1]))
        )
        if not ok:
            self.ops.fail(span, f"slice {proto} [{a}, {b}]: {len(got)} rows, want {len(want)}")

    def _resample(self, trace: str, proto: str) -> None:
        a, b = self._window(pd.Timedelta(days=30))
        item = self.stores[proto][KEY]
        out = self._op("resample", trace, proto, lambda: item.resample("hour", a, b).toPandas())
        if out is None:
            return
        got, span = out
        want = np.unique(self._expected(proto, a, b).astype("datetime64[h]"))
        span["rows"] = len(got)
        if len(got) != len(want):
            self.ops.fail(span, f"resample {proto} [{a}, {b}]: {len(got)} buckets, want {len(want)}")


# -- queries_build / queries_exec --------------------------------------------

# Construction-bound: index builds, iterative graph loops and bounded
# collects run inside the registry call, before a DataFrame is returned.
BUILD_QUERIES = (
    "q_ivf_filtered_topk",
    "q_hits_counts",
    "q_minhash_near_dup",
    "q_cramers_v",
)
# Execution-bound: TPC-H joins and aggregates plus Python/Arrow UDF scans.
EXEC_QUERIES = (
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "q18_large_orders",
    "q_zscore_events",
    "q_jpeg_thumbnails",
)


def _canon(v) -> str:
    """A value's text form for fingerprints: floats to 6 significant
    digits (so partition-order rounding does not show), bytes by digest."""
    if v is None:
        return "~"
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if f != f:
            return "nan"
        return "0" if abs(f) < 1e-9 else format(f, ".6g")
    if isinstance(v, (bytes, bytearray)):
        return "b" + hashlib.blake2b(bytes(v), digest_size=8).hexdigest()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())) + "}"
    return str(v)


def fingerprint(rows: list) -> dict:
    """Row count plus an order-insensitive hash of the rows."""
    acc = 0
    for row in rows:
        digest = hashlib.blake2b(_canon(tuple(row)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "little")) % (1 << 64)
    return {"rows": len(rows), "hash": f"{acc:016x}"}


class Queries:
    """A fixed query mix. Set-up runs two untimed passes: the first
    collects every result and checks its fingerprint against
    ``expected.json``, the second is a pass like the timed ones, which
    force each query through planning and the ``noop`` sink in a seeded
    order."""

    def __init__(self, queries: tuple[str, ...], spark, tracer, ops: Ops,
                 rng: np.random.Generator, record: bool) -> None:
        self.queries = queries
        self.spark, self.tracer, self.ops, self.rng, self.record = spark, tracer, ops, rng, record
        self.sf_dir = str(SF_DIR)
        self.registry = None

    def setup(self) -> None:
        from oakstore_spark import queries as registry

        registry.load_all()
        self.registry = registry.QUERIES
        expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
        got = {}
        for name in self._order():
            self.ops.attempted += 1
            span = None
            try:
                with self.tracer.span("query", "warmup", op=name) as span:
                    df = self._build(name, "warmup")
                    got[name] = fingerprint(df.collect())
            except Exception as e:  # noqa: BLE001 -- a failed query is counted, the run goes on
                self.ops.fail(span, f"{name}: {e!r}")
                continue
            finally:
                self.spark.catalog.clearCache()
            if not self.record and got[name] != expected.get(name):
                self.ops.fail(span, f"{name}: fingerprint {got[name]} != {expected.get(name)}")
        if self.record:
            expected.update(got)
            EXPECTED.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")
        self.run_pass("warmup")

    def run_pass(self, trace: str) -> None:
        for name in self._order():
            self.ops.attempted += 1
            span = None
            try:
                with self.tracer.span("query", trace, op=name) as span:
                    df = self._build(name, trace)
                    with self.tracer.span("exec", trace):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 -- a failed query is counted, the run goes on
                self.ops.fail(span, f"{name}: {e!r}")
            finally:
                self.spark.catalog.clearCache()

    def finish(self) -> dict:
        return {}

    def _order(self) -> list[str]:
        return [self.queries[i] for i in self.rng.permutation(len(self.queries))]

    def _build(self, name: str, trace: str):
        """Construction (the registry call) and Catalyst planning."""
        with self.tracer.span("queries.call", trace):
            df = self.registry[name](self.spark, self.sf_dir)
        with self.tracer.span("plan", trace):
            df._jdf.queryExecution().executedPlan()
        return df
