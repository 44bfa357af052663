"""``ingest``: an open loop of Extended-JSON rulings files drained into
an upserted snapshot, with read-your-writes checks.

A generator thread drops one file of new rulings plus corrections of
existing ones into a spool every ``FILE_EVERY`` seconds, on a fixed
schedule that ignores how the program is doing; each file is due at
its scheduled time. The main thread polls every ``POLL_EVERY`` seconds
on its own schedule (immediately, when a poll overran: a warm poll
takes longer than the period on a 4-core host, so the polls run back to
back and the spool drains as fast as the program can). A poll drains
the spool through ``ProvidenciasEngine.rulings_stream`` into
``streaming.upsert_sink`` (latest ``_id`` per ``providencia`` wins) and
then reads the snapshot back through ``compat.ir``: the document count
and a ``find`` of every drained ruling must show the latest text. A
file's latency runs from its due time to the end of the first read
that passes with its rows.

Throughput is the program's drain rate: rows ingested per second the
polls spent in ``upsert_sink`` and the read-back. Write amplification
is read from the snapshot itself: the rows in the parquet files each
poll left that were not there before it.

The rate, the file size and the share of corrections (a quarter of
each file) are assumptions; no rulings feed exists to fit them to.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from common import median

N_BASE = 3000
PER_FILE_NEW = 15
PER_FILE_FIX = 5
FILE_EVERY = 0.5
POLL_EVERY = 2.5
LATE_LIMIT = 60.0  # polls stop this long after the last scheduled one
KEYS = ["providencia"]
ORDER = ["_id"]


class Workload:
    name = "ingest"

    def __init__(self, seed: int, run_dir):
        self.spool = run_dir.sub("data", "spool")
        self.snapshot = run_dir.sub("data", "snapshot")
        self.checkpoint = run_dir.sub("checkpoint", "ingest")
        os.makedirs(self.spool)
        self.feed = gen.RulingsFeed(seed, N_BASE, PER_FILE_NEW, PER_FILE_FIX)
        self.files = [self.feed.base, self.feed.next_file()]
        self.applied: dict[str, str] = {}
        self.due: dict[int, float] = {}
        self.lateness: list[float] = []
        self.latencies: list[float] = []
        self.poll_s: list[float] = []
        self.poll_jobs: list[int] = []
        self.read_s: list[float] = []
        self.busy_s = 0.0
        self.rows_written = 0
        self.rows_ingested = 0
        self.polls = self.empty_polls = self.failed_polls = 0
        self.consumed = 0

    def build_engine(self, spark):
        from providenciasbigdata_spark.engine import ProvidenciasEngine

        return ProvidenciasEngine.from_mongodump(spark, self.spool)

    def _write(self, k: int) -> None:
        gen.write_dump_file(os.path.join(self.spool, f"part-{k:06d}.json"), self.files[k])

    # -- one poll -------------------------------------------------------------

    def _snapshot_files(self) -> set[tuple[str, int, int]]:
        """Every parquet file of the live snapshot as (path, inode,
        mtime): a file a poll moved unchanged keeps its inode and
        mtime, a file it wrote does not."""
        out = set()
        for d, _, names in os.walk(os.path.join(self.snapshot, "data")):
            for n in names:
                if n.endswith(".parquet"):
                    st = os.stat(os.path.join(d, n))
                    out.add((os.path.join(d, n), st.st_ino, st.st_mtime_ns))
        return out

    def _offset(self) -> int:
        """Files the stream has committed, from its latest offset log."""
        d = os.path.join(self.checkpoint, "offsets")
        if not os.path.isdir(d):
            return 0
        last = max((int(n) for n in os.listdir(d) if n.isdigit()), default=None)
        if last is None:
            return 0
        with open(os.path.join(d, str(last))) as fh:
            return int(json.loads(fh.read().splitlines()[-1])["n_files"])

    def poll(self, eng, tracer) -> bool | None:
        """Drain the spool, then read the snapshot back. Returns True if
        the read matched, False if it did not, None if the poll failed."""
        from providenciasbigdata_spark import streaming
        from providenciasbigdata_spark.compat import ir

        spark = eng.spark
        self.polls += 1
        before = self.consumed
        listed = len([f for f in os.listdir(self.spool) if f.endswith(".json")])
        if listed == before:
            self.empty_polls += 1
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        old_files = self._snapshot_files()
        t0 = time.perf_counter()
        try:
            with tracer.span("streaming.upsert_sink"):
                q = streaming.upsert_sink(
                    eng.rulings_stream(), self.snapshot, KEYS, ORDER, self.checkpoint
                )
                q.awaitTermination()
        except Exception as exc:  # a failed poll counts; the next one retries
            self.busy_s += time.perf_counter() - t0
            self.failed_polls += 1
            print(f"poll {self.polls} failed: {str(exc).splitlines()[0][:300]}")
            return None
        self.poll_s.append(time.perf_counter() - t0)
        self.busy_s += self.poll_s[-1]
        self.poll_jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))))
        self.rows_written += sum(
            pq.read_metadata(path).num_rows
            for path, _, _ in self._snapshot_files() - old_files
        )
        n = self._offset()
        new_docs = [d for f in self.files[before:n] for d in f]
        for d in new_docs:
            self.applied[d["providencia"]] = d["texto"]
        self.consumed = n
        self.rows_ingested += len(new_docs)
        ids = sorted({d["providencia"] for d in new_docs})
        t1 = time.perf_counter()
        with tracer.span("compat.ir.read_after_write"):
            snap = spark.read.parquet(os.path.join(self.snapshot, "data"))
            count = ir.mql_count_documents(snap, {}).first()["n"]
            got = {
                r.providencia: r.texto
                for r in ir.mql_find(
                    snap, {"providencia": {"$in": ids}}, projection={"providencia": 1, "texto": 1}
                ).collect()
            } if ids else {}
        self.read_s.append(time.perf_counter() - t1)
        self.busy_s += self.read_s[-1]
        return count == len(self.applied) and got == {p: self.applied[p] for p in ids}

    # -- loop -----------------------------------------------------------------

    def warm_up(self, eng, tracer) -> None:
        """Drain the base collection, then one update file, untimed; a
        traced run then polls once more with no new file to record how
        the source handles an empty poll."""
        off = tracer.__class__(False)
        for k in (0, 1):
            self._write(k)
            if not self.poll(eng, off):
                raise RuntimeError("warm-up drain did not read back its own writes")
        self.next_file = 2
        self.latencies.clear()
        self.poll_s.clear()
        self.poll_jobs.clear()
        self.read_s.clear()
        self.busy_s = 0.0
        self.rows_written = self.rows_ingested = 0
        self.polls = self.empty_polls = self.failed_polls = 0
        if tracer.enabled:
            self.poll(eng, off)
            self.probe = (self.polls, self.empty_polls, self.failed_polls)
            self.polls = self.empty_polls = self.failed_polls = 0

    def _generate(self, t0: float, stop: threading.Event) -> None:
        """Write each file at its due time until the last scheduled poll
        has started, so that every poll finds new files and the last one
        drains them all."""
        for i, k in enumerate(range(self.next_file, len(self.files))):
            due = t0 + (i + 0.5) * FILE_EVERY
            if stop.wait(max(0.0, due - time.perf_counter())):
                return
            self.due[k] = due  # before the write: a poll may see the file at once
            self._write(k)
            self.written = k + 1
            self.lateness.append(time.perf_counter() - due)

    def measure(self, eng, seconds: float, tracer, cpu) -> tuple[int, int]:
        """Polls on a fixed schedule, one per ``POLL_EVERY`` of
        ``seconds`` and at least two; a poll that finds the previous one
        still running starts as soon as it ends. The generator stops
        when the last scheduled poll starts, so a run makes the same
        polls whatever the host's speed (one more only if a file landed
        after the last poll listed the spool)."""
        n_polls = max(2, round(seconds / POLL_EVERY))
        # every file the run could need, generated before the clock
        # starts; the generator thread only writes them at their due times
        horizon = n_polls * POLL_EVERY + LATE_LIMIT
        while len(self.files) < self.next_file + int(horizon / FILE_EVERY):
            self.files.append(self.feed.next_file())
        self.written = self.next_file
        t0 = time.perf_counter()
        last_started = threading.Event()
        gen_thread = threading.Thread(target=self._generate, args=(t0, last_started))
        gen_thread.start()
        attempted = failed = 0
        last_visible = t0
        j = 1
        try:
            while j <= n_polls or (
                self.consumed < self.written
                and time.perf_counter() < t0 + n_polls * POLL_EVERY + LATE_LIMIT
            ):
                time.sleep(max(0.0, t0 + j * POLL_EVERY - time.perf_counter()))
                if j == n_polls:
                    last_started.set()
                j += 1
                attempted += 1
                before = self.consumed
                with cpu.op():
                    ok = self.poll(eng, tracer)
                now = time.perf_counter()
                if ok is None:
                    failed += 1
                    continue
                if not ok:
                    print(f"poll {self.polls}: snapshot does not show its writes")
                    failed += 1
                    continue
                self.latencies += [now - self.due[k] for k in range(before, self.consumed)]
                last_visible = now
        finally:
            last_started.set()
            gen_thread.join()
        if self.consumed < self.written:
            print(f"{self.written - self.consumed} files never became visible")
            failed += 1
        self.elapsed = last_visible - t0
        return attempted, failed

    # -- report ---------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        lat = self.latencies
        return {
            "latency_p50_s": median(lat),
            "throughput_per_s": self.rows_ingested / self.busy_s,
        }

    def notes(self) -> dict:
        offered = (PER_FILE_NEW + PER_FILE_FIX) / FILE_EVERY
        return {
            "files": len(self.latencies),
            "open_loop_rows_per_s": self.rows_ingested / self.elapsed,
            "latency_max_s": max(self.latencies),
            "offered_rows_per_s": offered,
            "poll_period_s": POLL_EVERY,
            "poll_median_s": median(self.poll_s),
            "poll_utilisation": median(self.poll_s) / POLL_EVERY,
            "generator_lateness_max_s": max(self.lateness),
        }

    def per_layer(self, tracer) -> dict[str, float]:
        polls, empty, failed = self.probe
        return {
            "streaming.upsert_sink_s": median(self.poll_s),
            "streaming.upsert_sink.jobs": float(np.mean(self.poll_jobs)),
            "streaming.rows_written_per_row_ingested": self.rows_written / max(self.rows_ingested, 1),
            "datasources.polls": float(self.polls + polls),
            "datasources.empty_polls": float(self.empty_polls + empty),
            "datasources.failed_polls": float(self.failed_polls + failed),
            "compat.ir.read_after_write_s": median(self.read_s),
            "ingest.generator_lateness_s": max(self.lateness),
        }
