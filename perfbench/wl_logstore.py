"""``logstore_mixed``: the reference's write/read cycle against one fresh store.

One closed-loop client drives the public ``LogStore`` methods and the
streaming ingest entry point in rounds. A round is a seeded shuffle of

- ``WRITES_PER_ROUND`` ``write_logs`` micro-batches (pure Arrow → Parquet),
  each on a session dealt from a shuffled deck,
- ``READS_PER_ROUND`` inclusive time-range ``read_logs``, each on a session
  dealt from a shuffled deck and from a random row on (Spark jobs),
- one ``start_ingest`` availableNow drain of a freshly written JSON-lines
  file (Structured Streaming into the landing tier),
- ``COMPACTS_PER_ROUND`` ``compact`` calls, on the next sessions in turn.

Rounds repeat until the measured time is spent, and at least until every
session has been compacted once; the run ends with a
``maintain()`` sweep (compaction and vacuum of every session). Every read
must return exactly the acknowledged rows in its window, and after the
sweep every session must count exactly its acknowledged rows.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from datetime import datetime, timedelta, timezone

from perfbench import harness
from perfbench.checks import AckModel, check_count, ts_us
from perfbench.stats import summarize

# The traffic shape. Where a number has a source, the comment names it; the
# rest are choices of this benchmark (see perfbench/README.md).

#: unverified choice: two containers of three sessions each
CONTAINERS = ("web", "worker")
SESSIONS = ("s0", "s1", "s2")
KEYS = tuple((c, s) for c in CONTAINERS for s in SESSIONS)
#: unverified choice: row levels and message words
LEVELS = ("DEBUG", "INFO", "INFO", "INFO", "WARN", "ERROR")
WORDS = (
    "request", "served", "in", "ms", "user", "cache", "miss", "hit", "retry",
    "timeout", "upstream", "db", "query", "slow", "ok", "error", "payload",
    "bytes", "queue", "depth", "worker", "started", "stopped", "GET", "POST",
)
#: ten writes per read: the mix the benchmark specifies ("about one in ten
#: operations is a read"); the reference's demo client reads about once per write
WRITES_PER_ROUND = 100
READS_PER_ROUND = 10
#: rows per write batch, and read window: the sizing probe the benchmark
#: was specified from (200-row batches, 3-day windows)
BATCH_ROWS = 200
WINDOW_S = 3 * 86400
#: event time between a session's rows: the reference's demo client writes
#: one log a second
ROW_STEP_S = 1
#: unverified choice: one drain per round, carrying one batch of rows for one
#: session; two compactions per round on the next sessions in turn, and at
#: least as many rounds as it takes to compact every session once
COMPACTS_PER_ROUND = 2
MIN_ROUNDS = -(-len(KEYS) // COMPACTS_PER_ROUND)
EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)


class _Source:
    """Seeded row generator with one advancing clock per session."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.clock = {k: EPOCH + timedelta(microseconds=rng.randint(0, 3_600_000_000)) for k in KEYS}

    def rows(self, key, n: int) -> tuple[list[dict], list[int]]:
        rng = self.rng
        out, stamps = [], []
        for _ in range(n):
            self.clock[key] += timedelta(seconds=ROW_STEP_S)
            ts = self.clock[key]
            stamp = ts.isoformat(timespec="microseconds")
            stamp = stamp.replace("+00:00", "Z") if rng.random() < 0.5 else stamp
            out.append({
                "timestamp": stamp,
                "level": rng.choice(LEVELS),
                "message": " ".join(rng.choices(WORDS, k=rng.randint(3, 20))),
            })
            stamps.append(ts_us(ts))
        return out, stamps


def _user_bytes(rows: list[dict]) -> int:
    return sum(len(json.dumps(r, separators=(",", ":")).encode("utf-8")) for r in rows)


def _iso(us: int) -> str:
    """Naive ISO-8601 (read as UTC by the store) of epoch microseconds."""
    return (datetime(1970, 1, 1) + timedelta(microseconds=us)).strftime("%Y-%m-%dT%H:%M:%S.%f")


class _Client:
    """The closed-loop client: one store, one stream source, one model."""

    def __init__(self, spark, tracer, root: str, rng: random.Random, traced: bool) -> None:
        from arrow_parquet_logs_spark.logstore import LogStore

        self.spark = spark
        self.tracer = tracer
        self.rng = rng
        self.traced = traced
        self.root = root
        self.store = LogStore(spark, os.path.join(root, "store"))
        self.src = harness.fresh_dir(os.path.join(root, "ingest-src"))
        self.checkpoint = os.path.join(root, "ingest-checkpoint")
        self.gen = _Source(rng)
        self.model = AckModel()
        self.user_bytes = 0
        self.errors: list[str] = []
        self.attempted = 0
        self.completed = 0
        self.files = 0
        # sessions still to write and to read in this turn of each deck
        self.write_deck: list[tuple[str, str]] = []
        self.read_deck: list[tuple[str, str]] = []
        # traced-run layer counts
        self.layer: dict[str, list[float]] = {}

    def _note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def _op(self, fn, what: str) -> bool:
        self.attempted += 1
        try:
            msg = fn()
        except Exception as e:  # a failed operation is counted and reported
            self.errors.append(f"{what} raised {type(e).__name__}: {e}")
            return False
        if msg is not None:
            self.errors.append(msg)
            return False
        self.completed += 1
        return True

    def _deal(self, deck: list, keys) -> tuple[str, str]:
        """The next session of a shuffled deck, so each is used equally often."""
        if not deck:
            deck.extend(keys)
            self.rng.shuffle(deck)
        return deck.pop()

    def write(self) -> None:
        key = self._deal(self.write_deck, KEYS)
        rows, stamps = self.gen.rows(key, BATCH_ROWS)

        def op():
            with self.tracer.span("logstore.write_logs", container=key[0], session=key[1]):
                n = self.store.write_logs(key[0], key[1], rows)
            self.model.ack(key, stamps)
            self.user_bytes += _user_bytes(rows)
            self._note("write_rows", n)
            return check_count(f"write_logs {key}", n, len(rows))

        self._op(op, f"write_logs {key}")

    def read(self, frac: float) -> None:
        """Read one session from its row at ``frac`` of its length on."""
        key = self._deal(self.read_deck, self.model.keys())
        stamps = self.model.stamps(key)
        lo = stamps[int(frac * len(stamps))]
        hi = lo + WINDOW_S * 1_000_000
        want = self.model.count(key, lo, hi)
        if self.traced:
            summ = self.store.summary(key[0], key[1])
            self._note("read_files", summ["files_scanned"])
            self._note("read_file_rows", summ["total_rows"])
            self._note("landing_files", summ["landing"]["files_scanned"])

        def op():
            with self.tracer.span("logstore.read_logs", container=key[0], session=key[1]):
                got = self.store.read_logs(
                    container=key[0], session=key[1], start_ts=_iso(lo), end_ts=_iso(hi)
                )
            self._note("read_rows", len(got))
            return check_count(f"read_logs {key} [{_iso(lo)}, {_iso(hi)}]", len(got), want)

        self._op(op, f"read_logs {key}")

    def drain(self) -> None:
        key = self.rng.choice(KEYS)
        rows, stamps = self.gen.rows(key, BATCH_ROWS)
        lines = [json.dumps({**r, "container": key[0], "session": key[1]}) for r in rows]
        self.files += 1
        tmp = os.path.join(self.root, f".ingest-{self.files}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.src, f"part-{self.files:05d}.json"))
        from arrow_parquet_logs_spark.streaming.ingest import start_ingest

        def op():
            with self.tracer.span("streaming.ingest", rows=len(lines)):
                q = start_ingest(self.spark, self.src, self.store.root, self.checkpoint)
                q.awaitTermination()
            if q.exception() is not None:
                return f"start_ingest failed: {q.exception()}"
            self.model.ack(key, stamps)
            self.user_bytes += _user_bytes(rows)
            for p in q.recentProgress:
                if p.numInputRows > 0:
                    d = p.durationMs
                    self._note("stream_rows", p.numInputRows)
                    self._note("stream_trigger_ms", d.get("triggerExecution", 0))
                    self._note("stream_add_batch_ms", d.get("addBatch", 0))
                    self._note("stream_planning_ms", d.get("queryPlanning", 0))
            return None

        self._op(op, "start_ingest")

    def compact(self, key) -> None:
        if self.traced:
            before = self.store.summary(key[0], key[1])
            self._note("compact_input_files", before["files_scanned"])

        def op():
            with self.tracer.span("logstore.compact", container=key[0], session=key[1]):
                self.store.compact(key[0], key[1])
            return None

        if self._op(op, f"compact {key}") and self.traced:
            after = self.store.summary(key[0], key[1])
            self._note("compact_bytes", after["archive"]["total_size_bytes"])

    def round(self, n: int) -> None:
        ops = (["write"] * WRITES_PER_ROUND + ["read"] * READS_PER_ROUND + ["drain"]
               + [f"compact{i}" for i in range(COMPACTS_PER_ROUND)])
        self.rng.shuffle(ops)
        # the first op of a fresh store must land rows before any read
        ops.insert(0, ops.pop(ops.index("write")))
        # the reads start at stratified random fractions of their sessions, so
        # every round reads about the same share of the store
        fracs = [(i + self.rng.random()) / READS_PER_ROUND for i in range(READS_PER_ROUND)]
        self.rng.shuffle(fracs)
        calls = {"write": self.write, "read": lambda: self.read(fracs.pop()), "drain": self.drain}
        for i in range(COMPACTS_PER_ROUND):
            key = KEYS[(COMPACTS_PER_ROUND * n + i) % len(KEYS)]
            calls[f"compact{i}"] = lambda key=key: self.compact(key)
        for op in ops:
            calls[op]()

    def finish(self) -> None:
        """maintain() sweep, then exactly-once check of every session."""
        def sweep():
            with self.tracer.span("logstore.maintain", kind="final"):
                res = self.store.maintain()
            removed = sum(len(v["vacuum"]["removed_versions"]) for v in res["sessions"].values())
            self._note("vacuum_removed", removed)
            if res["errors"]:
                return f"maintain errors: {res['errors']}"
            return None

        self._op(sweep, "maintain")
        for key in KEYS:
            def count(key=key):
                with self.tracer.span("logstore.count", kind="final", container=key[0], session=key[1]):
                    got = self.store.count(container=key[0], session=key[1])
                return check_count(f"count {key} after maintain", got, self.model.total(key))

            self._op(count, f"count {key}")


def _warm_up(spark, root: str, seed: int) -> None:
    """One of every timed operation on a throwaway store, so plan
    compilation and Python/JVM start-up are billed to set-up, not to the
    first timed operation."""
    warm = _Client(spark, harness.Tracer("warm-up", False), harness.fresh_dir(os.path.join(root, "warm")),
                   random.Random(~seed), False)
    warm.write()
    warm.read(0.5)
    warm.drain()
    warm.compact(warm.model.keys()[0])
    warm.read(0.0)
    if warm.errors:
        raise RuntimeError(f"warm-up failed: {warm.errors[0]}")


def run(ctx) -> dict:
    rss = harness.PeakRss().start()
    t_setup = time.perf_counter()
    spark = harness.launch_spark(ctx.run_dir, ctx.root, f"perfbench-{ctx.workload}", ctx.eventlog_dir)
    tracer = harness.Tracer(ctx.workload, ctx.trace, spark)
    try:
        with tracer.span("setup", kind="setup"):
            _warm_up(spark, ctx.run_dir, ctx.seed)
        setup_s = time.perf_counter() - t_setup
        client = _Client(spark, tracer, harness.fresh_dir(os.path.join(ctx.run_dir, "timed")),
                         random.Random(ctx.seed), ctx.trace)
        rounds: list[float] = []
        cpu_s: list[float] = []  # CPU seconds of the process tree per round
        cpu0, tcpu0 = harness.cpu_snapshot(), harness.tree_cpu_s()
        t_loop = time.perf_counter()
        while True:
            c0 = harness.tree_cpu_s()
            with tracer.span("pass", kind="pass", n=len(rounds)) as r:
                client.round(len(rounds))
            rounds.append(r["dur"])
            cpu_s.append(harness.tree_cpu_s() - c0)
            if time.perf_counter() - t_loop >= ctx.seconds and len(rounds) >= MIN_ROUNDS:
                break
        loop_s = time.perf_counter() - t_loop
        cpu = harness.cpu_shares(cpu0, harness.cpu_snapshot())
        cpu["loop_cpu_s"] = harness.tree_cpu_s() - tcpu0
        cpu["loop_s"] = loop_s
        completed = client.completed
        client.finish()
        stored = sum(harness.dir_bytes(os.path.join(client.store.root, t)) for t in ("landing", "archive"))
    finally:
        peak_mb = rss.stop()
        harness.stop_spark(spark)

    def lat(name: str, scale: float) -> list[float]:
        return [d * scale for d in tracer.durations(name)]

    w, rd = summarize(lat("logstore.write_logs", 1e3)), summarize(lat("logstore.read_logs", 1e3))
    c, s = summarize(lat("logstore.compact", 1.0)), summarize(lat("streaming.ingest", 1.0))
    report = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(rounds), "s", len(rounds)),
        "cpu_s_per_pass": (statistics.median(cpu_s), "s", len(cpu_s)),
        "ops_per_s": (completed / loop_s, "1/s", completed),
        "peak_rss_mb": (peak_mb, "MB", rss.samples),
    }
    report["write_ms_p50"] = (w["p50"], "ms", w["n"])
    if "tail" in w:
        report[f"write_ms_{w['tail']}"] = (w["tail_value"], "ms", w["n"])
    report["read_ms_p50"] = (rd["p50"], "ms", rd["n"])
    if "tail" in rd:
        report[f"read_ms_{rd['tail']}"] = (rd["tail_value"], "ms", rd["n"])
    report["compact_s_p50"] = (c["p50"], "s", c["n"])
    report["stream_batch_s_p50"] = (s["p50"], "s", s["n"])
    report["bytes_stored_per_user_byte"] = (stored / client.user_bytes, "ratio", len(KEYS))
    return {
        "attempted": client.attempted,
        "errors": client.errors,
        "report": report,
        "info": {
            **cpu,
            "rounds": len(rounds),
            "round_s": rounds,
            "round_cpu_s": cpu_s,
            "acked_rows": sum(client.model.total(k) for k in KEYS),
            "user_bytes": client.user_bytes,
            "stored_bytes": stored,
        },
        "tracer": tracer,
        "layer_notes": client.layer,
    }


def layers(result: dict, selft: dict[int, dict[str, float]]) -> dict[str, float]:
    """Log-store and streaming layer metrics of a traced run."""
    notes, tracer = result["layer_notes"], result["tracer"]

    def total(k):
        return float(sum(notes.get(k, [])))

    def med(k):
        v = notes.get(k, [])
        return float(statistics.median(v)) if v else 0.0

    def busy(name):
        return float(sum(tracer.durations(name))) + float(sum(tracer.durations(name, kind="final")))

    file_rows = total("read_file_rows")
    return {
        "logstore.write_logs.calls": float(len(tracer.durations("logstore.write_logs"))),
        "logstore.write_logs.busy_s": busy("logstore.write_logs"),
        "logstore.write_logs.rows": total("write_rows"),
        "logstore.read_logs.calls": float(len(tracer.durations("logstore.read_logs"))),
        "logstore.read_logs.busy_s": busy("logstore.read_logs"),
        "logstore.read_logs.files_scanned_p50": med("read_files"),
        "logstore.read_logs.useful_row_frac": total("read_rows") / file_rows if file_rows else 0.0,
        "logstore.landing_files_max": float(max(notes.get("landing_files", [0]))),
        "logstore.compact.calls": float(len(tracer.durations("logstore.compact"))),
        "logstore.compact.busy_s": busy("logstore.compact"),
        "logstore.compact.input_files": total("compact_input_files"),
        "logstore.compact.bytes_rewritten": total("compact_bytes"),
        "logstore.maintain.busy_s": busy("logstore.maintain"),
        "logstore.vacuum.removed_versions": total("vacuum_removed"),
        "streaming.ingest.batches": float(len(notes.get("stream_rows", []))),
        "streaming.ingest.busy_s": busy("streaming.ingest"),
        "streaming.ingest.rows": total("stream_rows"),
        "streaming.ingest.trigger_ms_p50": med("stream_trigger_ms"),
        "streaming.ingest.add_batch_ms_p50": med("stream_add_batch_ms"),
        "streaming.ingest.planning_ms_p50": med("stream_planning_ms"),
        "trace.read_ms_p50": summarize([d * 1e3 for d in tracer.durations("logstore.read_logs")]).get("p50", 0.0),
    }
