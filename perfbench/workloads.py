"""The benchmark's workloads, the client that drives them and the checks.

Every workload talks to the engine only through its public surface:
``SparkDataProcessor`` (``insert_ticks``, ``regenerate_ohlc``), its
``engine`` (``SparkQueryEngine``), ``load_ticks_zip`` and
``missing_months``. ``update_data`` is not driven: its gap list runs to
today's date, so its month count would grow with the calendar. The same
public calls it makes are timed instead, with a fixed ``end_date``.

``backfill``
    Bulk history load of one instrument, month after month, two variants
    each; each loaded month is read back once per query family, and the
    run ends by ingesting a stored month again. ZIP decode, dedup-append
    and bar generation take most of the time: it exercises
    ``sources.ingest``, the write side of ``sources.catalog``,
    ``operators.gaps`` and ``operators.ohlc``, and reads that never repeat.
``live``
    A store of several instruments with small months. One closed-loop
    client sends requests from six query families in round-robin, and every
    fifth request is instead a one-day append to a seeded instrument. The
    reads exercise ``query`` with ``operators.resample/coverage/pagination``
    and the read side of ``sources.catalog``; each append adds small files
    and invalidates the SQL views, so a read-side cache has to show its
    invalidation and write costs here.

Inputs are generated outside every timed window. Every output is checked
against the generator's answers; a mismatch or an exception is a failed
op, counted against the attempted ops.
"""

from __future__ import annotations

import calendar
import dataclasses
import datetime as dt
import functools
import random
import statistics
import time
import traceback
from pathlib import Path

import numpy as np

from perfbench import gen
from perfbench.gen import MS_PER_DAY, MS_PER_MIN

FAMILIES = ("ticks_range", "ohlc_1m", "resample", "coverage", "page", "sql")
RESAMPLE_TFS = (("5m", 5), ("15m", 15), ("30m", 30), ("1h", 60), ("4h", 240), ("1d", 1440))
PAGE_SIZE = 1000
YEAR = 2024


@dataclasses.dataclass(frozen=True)
class Sizes:
    instruments: tuple[str, ...]
    months: int  # months of history
    ticks: int  # ticks per variant-month
    warm_ticks: int = 0  # ticks per variant of the month loaded in set-up
    append_every: int = 0  # every n-th live request is a one-day append
    day_ticks: int = 0  # ticks per variant of one appended day


SIZES = {
    "backfill": Sizes(("EURUSD",), months=8, ticks=150_000, warm_ticks=20_000),
    "live": Sizes(("EURUSD", "USDJPY", "XAUUSD"), months=2,
                  ticks=40_000, append_every=5, day_ticks=1_000),
}


class Mismatch(AssertionError):
    """An engine output that disagrees with the generator's answer."""


def expect(got, want, what: str) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {got!r}, want {want!r}")


def _ms_col(series) -> np.ndarray:
    return series.values.astype("datetime64[ms]").astype(np.int64)


class Truth:
    """What the store should hold, per instrument, from the generator."""

    def __init__(self):
        self.ticks: dict[tuple[str, str], np.ndarray] = {}
        self._minutes: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def add(self, m: gen.MonthTicks) -> None:
        key = (m.instrument, m.variant)
        old = self.ticks.get(key)
        self.ticks[key] = m.ts if old is None else np.union1d(old, m.ts)
        self._minutes.pop(m.instrument, None)

    def raw(self, inst: str) -> np.ndarray:
        return self.ticks[(inst, "raw_spread")]

    def minutes(self, inst: str) -> tuple[np.ndarray, np.ndarray]:
        """(distinct raw minute starts, raw ticks in each)."""
        if inst not in self._minutes:
            m, c = np.unique(self.raw(inst) // MS_PER_MIN, return_counts=True)
            self._minutes[inst] = (m * MS_PER_MIN, c)
        return self._minutes[inst]

    def bars_between(self, inst: str, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        mins, counts = self.minutes(inst)
        i, j = np.searchsorted(mins, lo, "left"), np.searchsorted(mins, hi, "right")
        return mins[i:j], counts[i:j]


class Run:
    """One benchmark run: the session, a work directory and the op tally."""

    def __init__(self, spark, workdir: Path, seed: int, seconds: float, tracer):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timings: dict[str, list[float]] = {}
        self.counts: dict[str, int] = {}
        self.session_s = 0.0
        self.setup_s = 0.0
        self.gen_s = 0.0  # spent writing input archives, kept out of setup_s
        self._archives = 0

    def room_for(self, busy: float, unit: float) -> bool:
        """Whether to start another unit of work (a month, a cycle) that
        takes ``unit`` seconds: yes while at least half of it fits in the
        run's seconds. A run then measures close to its seconds in whole
        units, and the unit count does not flip on small speed changes."""
        return busy + unit / 2 <= self.seconds

    def mark_measured(self) -> None:
        """End of set-up: per-layer numbers count from here."""
        self.timings.clear()
        self.counts.clear()
        self.tracer.mark()

    def op(self, name: str, fn, *args, **kwargs):
        """Run one timed call into the engine; returns (result, seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        with self.tracer.span(name):
            out = fn(*args, **kwargs)
        dt_s = time.perf_counter() - t
        self.timings.setdefault(name, []).append(dt_s)
        return out, dt_s

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            detail = "" if isinstance(exc, Mismatch) else traceback.format_exc(limit=3)
            self.errors.append(f"{what}: {exc}{detail and chr(10) + detail}")

    def count(self, name: str, n: int) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def write_archive(self, m: gen.MonthTicks) -> str:
        t = time.perf_counter()
        self._archives += 1
        p = self.workdir / "in" / f"{self._archives:05d}_{m.instrument}_{m.variant}.zip"
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(m.to_zip())
        self.gen_s += time.perf_counter() - t
        return str(p)


def new_processor(run: Run, name: str):
    from exness_data_preprocess_spark.config import UserConfig
    from exness_data_preprocess_spark.processor import SparkDataProcessor

    # an explicit empty config keeps a user's ~/.exness-preprocess.yaml out
    proc = SparkDataProcessor(run.spark, run.workdir / name, config=UserConfig())
    run.tracer.wrap(proc.catalog, "read", "catalog.read")
    run.tracer.wrap(proc.catalog, "write_ticks", "catalog.write_ticks")
    # its jobs are counted apart, so a request's counts do not depend on
    # whether a write came before it
    run.tracer.wrap(proc.engine, "register_views", "query.register_views", own_jobs=True)
    return proc


def ingest(run: Run, proc, archives: dict[str, tuple[str, gen.MonthTicks]],
           inst: str, again: bool = False) -> None:
    """Insert each variant's archive. ``again`` marks archives already
    stored, which must add no row. In the traced run each archive is first
    decoded to a ``noop`` sink, which times ZIP decode alone."""
    from exness_data_preprocess_spark.sources.ingest import load_ticks_zip

    for variant, (path, m) in archives.items():
        if run.tracer.enabled:
            t = time.perf_counter()
            with run.tracer.span("ingest.decode"):
                load_ticks_zip(run.spark, path, inst).write.format("noop").mode("overwrite").save()
            run.timings.setdefault("ingest.decode", []).append(time.perf_counter() - t)
            run.count("ingest.rows_decoded", m.rows_offered)
        try:
            df = load_ticks_zip(run.spark, path, inst)
            before = tick_files(proc) if run.tracer.enabled else {}
            n, s = run.op("insert_ticks", proc.insert_ticks, df, variant)
            if run.tracer.enabled:
                new = tick_files(proc).items() - before.items()
                run.count("files_written", len(new))
                run.count("bytes_written", sum(size for _, size in new))
            run.count("rows_offered", m.rows_offered)
            run.count("rows_kept", n)
            if not again:
                run.count("ticks_stored", n)
                run.timings.setdefault("insert_new", []).append(s)
            expect(n, 0 if again else len(m.ts), f"insert_ticks {inst} {variant} rows")
        except Exception as exc:  # a failed op is counted, not fatal
            run.fail(f"insert_ticks {inst} {variant}", exc)


def regenerate(run: Run, proc, truth: Truth, inst: str, month: int, year: int = YEAR) -> None:
    start = f"{year}-{month:02d}-01"
    try:
        bars, _ = run.op("regenerate_ohlc", proc.regenerate_ohlc, inst, start_date=start)
        run.count("bars_written", bars)
        lo = gen.epoch_ms(dt.date(year, month, 1))
        expect(bars, len(truth.bars_between(inst, lo, 1 << 62)[0]),
               f"regenerate_ohlc {inst} from {start} bars")
    except Exception as exc:
        run.fail(f"regenerate_ohlc {inst} {start}", exc)


def month_archives(run: Run, truth: Truth | None, inst: str, month: int, n: int,
                   first_day: int = 1, last_day: int | None = None, year: int = YEAR):
    out = {}
    for v in gen.VARIANTS:
        m = gen.make_month(run.seed, inst, year, month, v, n, first_day, last_day)
        out[v] = (run.write_archive(m), m)
        if truth is not None:
            truth.add(m)
    return out


def tick_files(proc) -> dict[str, int]:
    """Parquet files of the two tick tables, with their sizes."""
    return {str(p): p.stat().st_size
            for table in ("raw_spread_ticks", "standard_ticks")
            for p in Path(proc.catalog.path(table)).rglob("*.parquet")}


def store_bytes(proc) -> tuple[int, int]:
    """(parquet bytes, parquet files) of the three engine tables."""
    size = files = 0
    for table in ("raw_spread_ticks", "standard_ticks", "ohlc_1m"):
        for p in Path(proc.catalog.path(table)).rglob("*.parquet"):
            size += p.stat().st_size
            files += 1
    return size, files


# -- query client ------------------------------------------------------------
class Client:
    """Closed-loop client: sends the next request when the last one returns."""

    def __init__(self, run: Run, proc, truth: Truth, instruments, month: int = 1,
                 year: int = YEAR):
        self.run = run
        self.engine = proc.engine
        self.truth = truth
        self.rng = random.Random(run.seed)
        self.instruments = instruments
        self.set_month(month, year=year)
        self.n = 0
        self.reset()

    def set_month(self, *months: int, year: int = YEAR) -> None:
        """Windows start on a day of these months and end a week later at
        most; a page walk starts afresh."""
        self.days = [dt.date(year, m, d) for m in months
                     for d in range(1, calendar.monthrange(year, m)[1] - 6)]
        self.walk = None  # (inst, day, lo, hi, cursor, page number) of a page walk

    def reset(self) -> None:
        """Forget the latencies and rows so far, and the page walk."""
        self.walk = None
        self.latency: dict[str, list[float]] = {f: [] for f in FAMILIES}
        self.rows: dict[str, int] = {f: 0 for f in FAMILIES}

    def request(self, family: str) -> float:
        """Send one request of ``family``; returns its latency in seconds."""
        run = self.run
        run.attempted += 1
        inst = self.rng.choice(self.instruments)
        day = self.rng.choice(self.days)
        call, check = getattr(self, "_" + family)(inst, day)
        lat = None
        t = time.perf_counter()
        try:
            with run.tracer.request(family):
                out = call()
            lat = time.perf_counter() - t
            self.rows[family] += check(out)
        except Exception as exc:  # a failed request is counted, not fatal
            run.fail(f"{family} {inst} {day}", exc)
        if lat is None:
            lat = time.perf_counter() - t
        self.latency[family].append(lat)
        self.n += 1
        return lat

    # each family returns (call, check); check raises Mismatch and returns rows
    def _ticks_range(self, inst, day):
        lo, hi = gen.epoch_ms(day), gen.epoch_ms(day) + MS_PER_DAY
        ts = self.truth.raw(inst)

        def check(pdf):
            i, j = np.searchsorted(ts, lo, "left"), np.searchsorted(ts, hi, "right")
            expect(len(pdf), int(j - i), f"ticks {inst} {day} rows")
            if len(pdf):
                got = _ms_col(pdf["timestamp"])
                expect((int(got[0]), int(got[-1])), (int(ts[i]), int(ts[j - 1])),
                       f"ticks {inst} {day} first/last")
            return len(pdf)

        return (lambda: self.engine.query_ticks(inst, "raw_spread", str(day),
                                                str(day + dt.timedelta(days=1)))), check

    def _bars(self, inst, day, tf: str, minutes: int):
        lo, hi = gen.epoch_ms(day), gen.epoch_ms(day) + 7 * MS_PER_DAY
        mins, counts = self.truth.bars_between(inst, lo, hi)

        def check(pdf):
            buckets = np.unique(mins // (minutes * MS_PER_MIN))
            expect(len(pdf), len(buckets), f"ohlc {tf} {inst} {day} bars")
            expect(int(pdf["tick_count_raw_spread"].sum()), int(counts.sum()),
                   f"ohlc {tf} {inst} {day} tick counts")
            return len(pdf)

        return (lambda: self.engine.query_ohlc(inst, tf, str(day),
                                               str(day + dt.timedelta(days=7)))), check

    def _ohlc_1m(self, inst, day):
        return self._bars(inst, day, "1m", 1)

    def _resample(self, inst, day):
        tf, minutes = RESAMPLE_TFS[self.n // len(FAMILIES) % len(RESAMPLE_TFS)]
        return self._bars(inst, day, tf, minutes)

    def _coverage(self, inst, day):
        raw, std = self.truth.raw(inst), self.truth.ticks[(inst, "standard")]

        def check(cov):
            expect((cov.raw_spread_ticks, cov.standard_ticks, cov.ohlc_bars),
                   (len(raw), len(std), len(self.truth.minutes(inst)[0])),
                   f"coverage {inst} counts")
            first = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=int(raw[0]))
            expect(cov.earliest_date, str(first), f"coverage {inst} earliest")
            return 1

        return (lambda: self.engine.get_data_coverage(inst)), check

    def _page(self, inst, day):
        if self.walk is None:
            lo = gen.epoch_ms(day)
            self.walk = (inst, day, lo, lo + MS_PER_DAY, None, 0)
        inst, day, lo, hi, cursor, k = self.walk
        ts = self.truth.raw(inst)
        i0, j = np.searchsorted(ts, lo, "left"), np.searchsorted(ts, hi, "right")

        def check(res):
            i = i0 + k * PAGE_SIZE
            want = ts[i:min(i + PAGE_SIZE, j)]
            got = _ms_col(res.data["timestamp"])
            expect((len(got), bool(res.has_more)), (len(want), bool(j - i > PAGE_SIZE)),
                   f"page {inst} {day} #{k} rows/has_more")
            if len(got):
                expect((int(got[0]), int(got[-1])), (int(want[0]), int(want[-1])),
                       f"page {inst} {day} #{k} first/last")
            self.walk = (None if not res.has_more
                         else (inst, day, lo, hi, res.next_cursor, k + 1))
            return len(got)

        end = str(day + dt.timedelta(days=1))
        return (lambda: self.engine.query_ticks_paginated(
            inst, "raw_spread", cursor, PAGE_SIZE, str(day), end)), check

    def _sql(self, inst, day):
        lo, hi = gen.epoch_ms(day), gen.epoch_ms(day) + 7 * MS_PER_DAY
        q = (
            "WITH b AS (SELECT to_date(timestamp) AS d, count(*) AS bars, "
            "sum(tick_count_raw_spread) AS ticks FROM ohlc_1m "
            f"WHERE instrument = '{inst}' AND timestamp >= '{day}' "
            f"AND timestamp < '{day + dt.timedelta(days=7)}' GROUP BY 1), "
            "h AS (SELECT date AS d, count(*) AS closed FROM holidays GROUP BY 1) "
            "SELECT b.d, b.bars, b.ticks, coalesce(h.closed, 0) AS closed "
            "FROM b LEFT JOIN h ON b.d = h.d ORDER BY b.d"
        )
        mins, counts = self.truth.bars_between(inst, lo, hi - 1)

        def check(rows):
            days = mins // MS_PER_DAY
            want = [(int(d), int((days == d).sum()), int(counts[days == d].sum()))
                    for d in np.unique(days)]
            got = [((r["d"] - dt.date(1970, 1, 1)).days, r["bars"], r["ticks"]) for r in rows]
            expect(got, want, f"sql {inst} {day} daily bars/ticks")
            return len(rows)

        return (lambda: self.engine.sql(q).collect()), check


def check_gaps(run: Run, proc, inst: str, months: int, want: list) -> None:
    from exness_data_preprocess_spark.operators.gaps import missing_months

    try:
        gaps, _ = run.op("missing_months", missing_months, proc.engine.ticks_df("raw_spread"),
                         inst, f"{YEAR}-01-01", f"{YEAR}-{months:02d}-28")
        expect(gaps, want, f"missing_months {inst}")
    except Exception as exc:
        run.fail(f"missing_months {inst}", exc)


def results(run: Run, client: Client, proc, truth: Truth, updates: list[float]) -> dict:
    """The end-to-end metrics, computed the same way on every workload."""
    lat = sorted(x for v in client.latency.values() for x in v)
    size, _ = store_bytes(proc)
    stored = sum(len(v) for v in truth.ticks.values())
    return {
        "ingest_ticks_per_s": run.counts["ticks_stored"] / sum(run.timings["insert_new"]),
        "update_p50_ms": 1000 * statistics.median(updates),
        "store_bytes_per_tick": size / stored,
        # every family weighs the same, however many of each a run completed
        "query_ops_per_s": len(FAMILIES) / sum(
            statistics.fmean(client.latency[f]) for f in FAMILIES),
        # reported, not gated: see README.md
        "query_p50_ms": 1000 * statistics.median(lat),
        "query_p95_ms": 1000 * statistics.quantiles(lat, n=20, method="inclusive")[-1],
        "requests": len(lat),
        "_client": client,
        "_proc": proc,
    }


# -- workloads ----------------------------------------------------------------
def backfill(run: Run) -> dict:
    """Month updates of one instrument; each loaded month is then read back
    with one request of every family, as an operator checks a backfill."""
    sizes = SIZES["backfill"]
    inst = sizes.instruments[0]
    proc, truth = new_processor(run, "store"), Truth()
    client = Client(run, proc, truth, [inst], month=12, year=YEAR - 1)
    # Set-up loads December of the year before, smaller, and reads it back:
    # the JVM's first ingest, bar generation and queries cost several times
    # a warm one, and no timed call pays for them. Every timed month then
    # takes the same path, an append to a table that already exists.
    arch = month_archives(run, truth, inst, 12, sizes.warm_ticks, year=YEAR - 1)
    t = time.perf_counter()
    ingest(run, proc, arch, inst)
    regenerate(run, proc, truth, inst, 12, year=YEAR - 1)
    for family in FAMILIES:
        client.request(family)
    run.setup_s += time.perf_counter() - t
    client.reset()
    run.mark_measured()

    updates: list[float] = []
    busy = 0.0
    first = None
    for month in range(1, sizes.months + 1):
        if month > 2 and not run.room_for(busy, busy / len(updates)):
            break
        arch = month_archives(run, truth, inst, month, sizes.ticks)
        first = first or arch
        t = time.perf_counter()
        check_gaps(run, proc, inst, sizes.months,
                   [(YEAR, m) for m in range(month, sizes.months + 1)])
        ingest(run, proc, arch, inst)
        regenerate(run, proc, truth, inst, month)
        updates.append(time.perf_counter() - t)
        busy += updates[-1]
        client.set_month(month)
        for family in FAMILIES:
            busy += client.request(family)

    # a month already stored: every row is a duplicate, nothing is written
    ingest(run, proc, {"raw_spread": first["raw_spread"]}, inst, again=True)
    out = results(run, client, proc, truth, updates)
    out["_report"] = {"update_month_s": statistics.median(updates), "months": len(updates)}
    return out


def build_store(run: Run, proc, truth: Truth, sizes: Sizes) -> None:
    """All months of all instruments, one ``insert_ticks`` per variant and
    one full ``regenerate_ohlc`` per instrument."""
    from exness_data_preprocess_spark.sources.ingest import load_ticks_zip

    per_variant: dict[str, list] = {v: [] for v in gen.VARIANTS}
    for inst in sizes.instruments:
        for month in range(1, sizes.months + 1):
            for v, (path, m) in month_archives(run, truth, inst, month, sizes.ticks).items():
                per_variant[v].append((inst, path, m))
    t = time.perf_counter()
    for v, items in per_variant.items():
        try:
            df = functools.reduce(lambda a, b: a.unionByName(b), (
                load_ticks_zip(run.spark, path, inst) for inst, path, _ in items))
            n, _ = run.op("insert_ticks", proc.insert_ticks, df, v)
            expect(n, sum(len(m.ts) for _, _, m in items), f"store build {v} rows")
        except Exception as exc:
            run.fail(f"store build {v}", exc)
    for inst in sizes.instruments:
        try:
            bars, _ = run.op("regenerate_ohlc", proc.regenerate_ohlc, inst)
            expect(bars, len(truth.minutes(inst)[0]), f"store build {inst} bars")
        except Exception as exc:
            run.fail(f"store build {inst} bars", exc)
    run.setup_s += time.perf_counter() - t


def live(run: Run) -> dict:
    """Closed-loop reads over a store of several instruments; every
    ``append_every``-th request is a one-day append instead."""
    sizes = SIZES["live"]
    proc, truth = new_processor(run, "store"), Truth()
    build_store(run, proc, truth, sizes)
    client = Client(run, proc, truth, sizes.instruments)
    client.set_month(*range(1, sizes.months + 1))
    next_day = {inst: 1 for inst in sizes.instruments}
    month = sizes.months + 1
    rng = random.Random(run.seed + 1)

    def append() -> float:
        """One more day of a seeded instrument; returns its wall time."""
        inst = rng.choice(sizes.instruments)
        day = next_day[inst]
        next_day[inst] += 1
        arch = month_archives(run, truth, inst, month, sizes.day_ticks, day, day)
        t = time.perf_counter()
        ingest(run, proc, arch, inst)
        regenerate(run, proc, truth, inst, month)
        return time.perf_counter() - t

    # warm-up: one request of every family (the build warmed the write path)
    t = time.perf_counter()
    for family in FAMILIES:
        client.request(family)
    run.setup_s += time.perf_counter() - t
    client.reset()
    run.mark_measured()

    updates: list[float] = []
    busy = 0.0
    while len(updates) < 3 or run.room_for(busy, busy / len(updates)):
        for _ in range(sizes.append_every - 1):
            busy += client.request(FAMILIES[client.n % len(FAMILIES)])
        updates.append(append())
        busy += updates[-1]

    check_gaps(run, proc, sizes.instruments[0], sizes.months, [])
    out = results(run, client, proc, truth, updates)
    out["_report"] = {"append_p50_ms": out["update_p50_ms"], "appends": len(updates)}
    return out


WORKLOADS = {"backfill": backfill, "live": live}
