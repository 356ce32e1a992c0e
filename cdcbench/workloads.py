"""The benchmark's workloads.

Each workload builds its inputs from the seed, then repeats one *round* of
its timed phases: first as set-up on fresh tables until the phases are
steady (the median round is ``setup_s``), then for the measured seconds.
Every timed call is one attempted operation; a call that raises, or whose
result differs from the oracle, is a failed one. Results are kept and
compared with the oracle after the measured window, outside every timed call.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import pandas as pd
import pyarrow.parquet as pq

from . import inputs
from .trace import Tracer


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def _lineage_files(tbl) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(os.path.join(tbl.path, "lineage")))


def _engine():
    from mas_scada_bulkingest_spark import pipeline, status
    from mas_scada_bulkingest_spark.streaming import driver

    return pipeline, status, driver


class Workload:
    """Per-phase sample series, attempted/failed counts, and the client
    operations both workloads share (reads, lookups, ``status()``)."""

    name = ""
    #: three set-up rounds: the first is the cold one (class loading and
    #: JIT), so the median is a warm one
    setup_rounds = 3
    #: fewest rounds in a measured window
    min_rounds = 1
    n_buckets = 8

    def __init__(self, work: str, seed: int, log):
        self.spark = None
        self.tracer = Tracer()
        self.work = work
        self.seed = seed
        self.log = log
        self.series: dict[str, list[float]] = {}
        self.setup_samples: dict[str, list[float]] = {}
        self.setup_series: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: (kind, state label, lookup key, result frame), gated after the run
        self.results: list[tuple] = []
        self.window_ms = (0.0, 0.0)
        self._n = 0

    def path(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{stem}-{self._n}")

    def sample(self, phase: str, value: float) -> None:
        self.series.setdefault(phase, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        self.log(f"FAILED {what}")

    def call(self, span: str, fn):
        """One attempted operation: ``fn()`` inside a span, timed. Returns
        (result, seconds), or (None, None) when it raised."""
        self.attempted += 1
        try:
            with self.tracer.span(span):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            return out, dt
        except Exception as e:  # a raise is a failed operation, not a crash
            self.fail(f"{span}: {e!r}"[:300])
            return None, None

    def epoch(self, st, wall: float, events: int) -> None:
        """Samples of one applied epoch: wall, input events, the time outside
        every merge phase, and each phase of ``MergeStats.timings``."""
        timings = st.timings or {}
        self.sample("epoch_s", wall)
        self.sample("epoch_events", events)
        self.sample("unphased_s", wall - sum(timings.values()))
        for phase, sec in timings.items():
            self.sample(f"merge_{phase}_s", sec)

    def read(self, kind: str, tbl, label, key=None, **kw) -> None:
        """A consumer pulls table state into pandas: ``read()`` (or
        ``lookup(key)``) then ``toPandas()``, timed as one operation."""

        # files the read could open, from the snapshot manifest (as bench.py
        # reads it); minus the ones the read pruned, this is files scanned
        buckets = tbl._snapshot["buckets"]
        candidates = (len(buckets.get(str(tbl._bucket_of(key)), [])) if key is not None
                      else sum(len(v) for v in buckets.values()))

        def op():
            pruned = tbl.last_read_pruned_files
            t0 = time.perf_counter()
            df = tbl.lookup(key) if key is not None else tbl.read(**kw)
            t1 = time.perf_counter()
            frame = df.toPandas()
            return frame, t1 - t0, time.perf_counter() - t1, tbl.last_read_pruned_files - pruned

        out, sec = self.call(kind, op)
        if out is None:
            return
        frame, call_s, exec_s, pruned = out
        self.sample(f"{kind}_s", sec)
        self.sample(f"{kind}_call_s", call_s)
        self.sample(f"{kind}_exec_s", exec_s)
        self.sample(f"{kind}_pruned_files", pruned)
        self.sample(f"{kind}_scanned_files", candidates - pruned)
        self.results.append((kind, label, key, frame))

    def scrape(self, tbl) -> None:
        _, status, _ = _engine()
        st, sec = self.call("status", lambda: status.status(tbl))
        if st is None:
            return
        self.sample("scrape_s", sec)
        self.sample("files_per_bucket", st["n_data_files"] / st["n_buckets"])
        self.last_status = st

    def gate_results(self, expected_for) -> None:
        """Compare every kept result with ``expected_for(label)`` (the
        oracle's state), filtered for windowed reads and lookups."""
        cache: dict = {}
        for kind, label, key, frame in self.results:
            if label not in cache:
                cache[label] = expected_for(label)
            want = cache[label]
            if kind == "read_window":
                want = want[want["ts"] >= pd.Timestamp(self.window_lo)]
            elif key is not None:
                want = want[want["conv_id"] == key]
            bad = inputs.mismatch(frame, want)
            if bad:
                self.fail(f"{kind} at state {label} != oracle: {bad}")
        self.results.clear()

    def attach(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def set_up(self) -> None:
        """Run the set-up rounds, untraced, on the inputs ``prepare`` built."""
        for i in range(self.setup_rounds):
            t0 = time.perf_counter()
            self.round(measured=False)
            self.setup_series.append(time.perf_counter() - t0)
            self.log(f"setup round {i}: {self.setup_series[-1]:.3f} s")
        self.after_setup()
        self.setup_samples = self.series

    def measure(self, seconds: float, traced: bool) -> None:
        """One measured window of whole rounds, at least ``min_rounds`` and
        until ``seconds`` have passed; its samples replace ``series`` and
        its wall-clock span is ``window_ms``."""
        self.series = {}
        self.tracer.enabled = traced
        w0 = time.time() * 1000.0
        deadline = time.perf_counter() + seconds
        rounds = 0
        while not self.failed and (rounds < self.min_rounds or time.perf_counter() < deadline):
            self.round(measured=True)
            rounds += 1
        self.window_ms = (w0, time.time() * 1000.0)
        self.tracer.enabled = False
        self.log(f"measured window: {rounds} rounds in "
                 f"{(self.window_ms[1] - w0) / 1000.0:.3f} s (traced: {traced})")

    def finish(self) -> None:
        """Stop what the rounds left running, then gate every result."""
        self.end_measure()
        self.gate()

    # hooks
    def prepare(self) -> None: ...  # inputs and oracle state; runs while the JVM starts, no Spark
    def after_setup(self) -> None: ...
    def round(self, measured: bool) -> None: ...
    def end_measure(self) -> None: ...
    def gate(self) -> None: ...


# ---------------------------------------------------------------------------


class Backfill(Workload):
    """Closed loop: the whole log is due at once. Each round replays it in
    large epochs into a fresh merge-on-read table, reads that table back
    once (one client round), and bulk-loads its final state into a fresh
    table with ``bootstrap``."""

    name = "backfill"
    #: a round holds one replay, so two keep one slow replay off the medians
    min_rounds = 2
    n_convs = 8000
    n_files = 16
    files_per_epoch = 8

    def prepare(self) -> None:
        self.log_dir = os.path.join(self.work, "log")
        man = inputs.make_log(self.log_dir, self.seed, self.n_convs, self.n_files)
        self.n_events = man.n_events
        files = inputs.log_files(self.log_dir)
        rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
        fpe = self.files_per_epoch
        self.epoch_events = [sum(rows[i:i + fpe]) for i in range(0, len(rows), fpe)]
        self.expected = inputs.expected_state(inputs.read_changes(files))
        self.state_path = os.path.join(self.work, "state.parquet")
        inputs.write_state(self.expected, self.state_path)
        self.tables: dict[str, object] = {}
        self.merge_counts = None
        self.log(f"backfill log: {self.n_events} events in {self.n_files} files, "
                 f"{len(self.expected)} live rows; input digest {inputs.digest_dir(self.log_dir)}")

    def _replay(self):
        pipeline, _, driver = _engine()
        tbl = pipeline.create_transcripts_table(
            self.spark, self.path("t-mor"), n_buckets=self.n_buckets, mode="mor")
        marks = [time.perf_counter()]
        stats_seen = []

        def on_epoch(st):
            marks.append(time.perf_counter())
            stats_seen.append(st)

        stats, dt = self.call(
            "replay_batches",
            lambda: driver.replay_batches(self.spark, self.log_dir, tbl,
                                          files_per_epoch=self.files_per_epoch,
                                          on_epoch=on_epoch))
        if stats is None:
            return tbl
        self.sample("replay_s", dt)
        # Closed loop: an epoch is handed over when the previous one returns,
        # so its lag is its own wall time. The second epoch carries the
        # schema change and runs slower than the first; one sample per
        # replay (its mean epoch) keeps the median off the gap between them.
        self.sample("lag_s", dt / len(stats))
        self.sample("ingest_rate", self.n_events / dt)
        for a, b, st, n in zip(marks, marks[1:], stats_seen, self.epoch_events):
            self.epoch(st, b - a, n)
        counts = tuple((s.applied, s.skipped, s.deleted) for s in stats)
        if self.merge_counts is None:
            self.merge_counts = counts
        elif counts != self.merge_counts:
            self.fail(f"replay merge counts {counts} != first round's {self.merge_counts}")
        return tbl

    def round(self, measured: bool) -> None:
        pipeline, _, _ = _engine()
        for t in self.tables.values():
            shutil.rmtree(t.path, ignore_errors=True)
        tables = self.tables = {}
        tables["mor"] = mor = self._replay()
        self.read("read_full", mor, "final")
        tables["boot"] = boot = pipeline.create_transcripts_table(
            self.spark, self.path("t-boot"), n_buckets=self.n_buckets, mode="mor")
        st, dt = self.call("bootstrap",
                           lambda: boot.bootstrap(self.spark.read.parquet(self.state_path)))
        if st is not None:
            self.sample("bootstrap_s", dt)
            self.sample("bootstrap_rows", st.applied)

    def gate(self) -> None:
        _, status, _ = _engine()
        self.gate_results(lambda _label: self.expected)
        bad = inputs.mismatch(self.tables["boot"].read().toPandas(), self.expected)
        if bad:
            self.fail(f"bootstrap table != oracle: {bad}")
        st = status.status(self.tables["mor"])
        self.stored_bytes_per_event = st["live_bytes"] / self.n_events
        self.sample("files_per_bucket", st["n_data_files"] / st["n_buckets"])

    def lineage_files(self) -> int:
        return _lineage_files(self.tables["mor"])



# ---------------------------------------------------------------------------


class Serve(Workload):
    """Closed loop with one client against a merge-on-read table that a
    ``run_stream`` query keeps applying change files to. Each cycle
    releases one change file into the directory the query watches, waits
    for the commit that makes it readable (its lag), then reads the table
    in full and runs its side operations. A measured round is one
    compaction period of five cycles (``PERIOD``), with a hot lookup, a
    windowed read, a cold lookup and a ``status()`` scrape. Every release
    adds one delta file per bucket, and the sink compacts any bucket that
    holds more than ``compact_files`` files, so one release in five compacts
    and the full reads see 3, 4, 5, 1 and 2 files per bucket. Four of the
    five lag samples of a round come from releases that do not compact, so
    the median lag is that of an ordinary release even when one of those
    four is slowed by something else.

    The query starts once. A set-up round bulk-loads a fresh table, points
    the query's sink at it and runs one cycle on it, the first round with
    every side operation and the others with none; the measured rounds
    continue on the last set-up round's table. ``stored_bytes_per_event`` is
    that table's at the end of set-up."""

    name = "serve"
    n_buckets = 4
    n_convs = 4000
    n_files = 200
    n_base_files = 100
    #: tail files a run may release; a run releases about a dozen
    n_tail_files = 40
    compact_files = 5

    def prepare(self) -> None:
        log_dir = os.path.join(self.work, "log")
        man = inputs.make_log(log_dir, self.seed, self.n_convs, self.n_files)
        files = inputs.log_files(log_dir)
        self.base_files = files[: self.n_base_files]
        self.tail_files = files[self.n_base_files:self.n_base_files + self.n_tail_files]
        self.base_changes = inputs.read_changes(self.base_files)
        base_state = inputs.expected_state(self.base_changes)
        self.state_path = os.path.join(self.work, "base_state.parquet")
        inputs.write_state(base_state, self.state_path)
        self.tail_frames = [inputs.read_changes([f]) for f in self.tail_files]
        lo, hi = base_state["ts"].min(), base_state["ts"].max()
        self.window_lo = (lo + (hi - lo) * 0.8).to_pydatetime()
        counts = base_state["conv_id"].value_counts()
        self.hot_key = counts.index[0]
        self.cold_keys = list(counts.index[::-1][:64])
        self.query = None
        self.table = None
        self.next_file = 0
        self.log(f"serve log: {man.n_events} events; base {len(self.base_changes)} events -> "
                 f"{len(base_state)} rows; {len(self.tail_files)} tail files to release; "
                 f"input digest {inputs.digest_dir(log_dir)}")

    def _build_table(self) -> None:
        """Bulk-load the base state into a fresh table and make it the one
        the sink applies to; the previous table is removed."""
        pipeline, _, _ = _engine()
        tbl = pipeline.create_transcripts_table(
            self.spark, self.path("t-serve"), n_buckets=self.n_buckets, mode="mor")
        st, dt = self.call("bootstrap",
                           lambda: tbl.bootstrap(self.spark.read.parquet(self.state_path)))
        if st is not None:
            self.sample("bootstrap_s", dt)
        old, self.table, self.first_file = self.table, tbl, self.next_file
        if old is not None:
            shutil.rmtree(old.path, ignore_errors=True)

    def _start_stream(self) -> None:
        pipeline, _, driver = _engine()
        self.watch = self.path("watch")
        os.makedirs(self.watch)
        self.applied_event = threading.Event()
        self.sink_log: list[tuple] = []  # (entered, stats, apply seconds, returned)
        self.sink_error = None

        def sink(batch_df, epoch_key):
            entered = time.perf_counter()
            try:
                with self.tracer.span("apply_changes"):
                    t0 = time.perf_counter()
                    st = pipeline.apply_changes(self.table, batch_df, epoch_key,
                                                auto_compact_files=self.compact_files)
                    dt = time.perf_counter() - t0
                self.sink_log.append((entered, st, dt, time.perf_counter()))
            except Exception as e:
                self.sink_error = repr(e)
                raise
            finally:
                self.applied_event.set()

        self.query = driver.run_stream(self.spark, self.watch, None, self.path("ckpt"),
                                       sink=sink, max_files_per_trigger=1, available_now=False)

    def _release(self) -> bool:
        """Release the next tail file and wait for the commit that makes it
        readable (one attempted operation)."""
        k = self.next_file
        if k >= len(self.tail_files):
            self.fail("serve ran out of tail files")
            return False
        self.next_file += 1
        name = os.path.basename(self.tail_files[k])
        self.applied_event.clear()
        self.attempted += 1
        due = time.perf_counter()
        hidden = os.path.join(self.watch, "." + name)
        shutil.copyfile(self.tail_files[k], hidden)
        os.rename(hidden, os.path.join(self.watch, name))
        self.sample("generator_late_s", time.perf_counter() - due)
        if not self.applied_event.wait(120):
            self.fail(f"stream did not commit {name} within 120 s")
            return False
        if self.sink_error:
            self.fail(f"stream apply raised: {self.sink_error[:300]}")
            return False
        entered, st, dt, returned = self.sink_log[-1]
        want = int(self.tail_frames[k]["lsn"].max())
        if st.max_lsn != want:
            self.fail(f"stream epoch max_lsn {st.max_lsn} != released file's {want}")
            return False
        self.sample("lag_s", returned - due)
        self.sample("trigger_s", entered - due)
        self.sample("ingest_rate", len(self.tail_frames[k]) / dt)
        self.epoch(st, dt, len(self.tail_frames[k]))
        return True

    def _cycle(self, side_ops: tuple) -> None:
        if not self._release():
            return
        label = (self.first_file, self.next_file)  # tail files in the table
        tbl = self.table
        self.read("read_full", tbl, label)
        for op in side_ops:
            if op == "read_window":
                self.read(op, tbl, label, min_event_time=self.window_lo)
            elif op == "lookup_hot":
                self.read(op, tbl, label, key=self.hot_key)
            elif op == "lookup_cold":
                self.read(op, tbl, label, key=self.cold_keys[label[1] % len(self.cold_keys)])
            else:
                self.scrape(tbl)

    def round(self, measured: bool) -> None:
        if measured:
            for side_ops in PERIOD:
                self._cycle(side_ops)
            return
        self._build_table()
        if self.query is None:
            self._start_stream()
            self._cycle(SETUP_OPS)
        else:
            self._cycle(())

    def after_setup(self) -> None:
        _, status, _ = _engine()
        events = len(self.base_changes) + sum(
            len(f) for f in self.tail_frames[self.first_file:self.next_file])
        self.stored_bytes_per_event = status.status(self.table)["live_bytes"] / events

    def end_measure(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def expected_after(self, label: tuple[int, int]) -> pd.DataFrame:
        """Oracle state of a table that holds the base and tail files
        ``first`` up to ``last``."""
        first, last = label
        tail = self.tail_frames[first:last]
        return inputs.expected_state(pd.concat([self.base_changes, *tail], ignore_index=True))

    def gate(self) -> None:
        self.gate_results(self.expected_after)
        bad = inputs.mismatch(self.table.read().toPandas(),
                              self.expected_after((self.first_file, self.next_file)))
        if bad:
            self.fail(f"serve table != oracle: {bad}")

    def lineage_files(self) -> int:
        return _lineage_files(self.table)


#: side operations of each cycle of a measured serve round (the fourth
#: cycle compacts and has none), and of the cycle of the first set-up round
PERIOD = (("lookup_hot",), ("read_window",), ("lookup_cold",), (), ("status",))
SETUP_OPS = tuple(op for ops in PERIOD for op in ops)
WORKLOADS = {w.name: w for w in (Backfill, Serve)}


#: end-to-end metrics taken from the measured window; the others come from
#: set-up and the final table
WINDOW_METRICS = ("ingest_events_per_s", "lag_s_p50", "read_full_s")


def end_to_end(wl: Workload) -> dict:
    """The end-to-end metrics every workload reports."""
    s = wl.series
    return {
        "setup_s": median(wl.setup_series),
        "ingest_events_per_s": median(s.get("ingest_rate", [])),
        "lag_s_p50": median(s.get("lag_s", [])),
        "read_full_s": median(s.get("read_full_s", [])),
        "stored_bytes_per_event": getattr(wl, "stored_bytes_per_event", float("nan")),
    }
