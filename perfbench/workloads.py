"""The benchmark's workloads: closed loops with one client.

Each op starts only when the previous one has returned, the way a
client blocks on ``remote_parallel_map``. Inputs come from the seed;
every op's output is checked, and a failed or wrong op is counted, not
retried or dropped.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from bench import SF_DIR  # the repo's bench data set ($SPARK_GRAFT_SF_DIR, sf0.1)
from perfbench import layers, userfns
from perfbench.sparkstats import StatusStore, diff
from perfbench.stats import nearest_rank


class Mismatch(Exception):
    """An op returned, but its output is wrong."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


@dataclass
class Op:
    name: str
    round: int
    traced: bool
    t_call: float = 0.0
    wall_s: float = 0.0
    ok: bool = True
    error: str | None = None
    spark: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)


class Bench:
    """Session, seed and bookkeeping shared by a run's ops."""

    def __init__(self, spark, seed: int, cpus: int, run_dir: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.cpus = cpus
        self.run_dir = run_dir
        self.tracer = tracer
        self._store: StatusStore | None = None  # built on first use, after set-up
        self._last: dict | None = None  # latest status-store snapshot
        self.ops: list[Op] = []

    def run_op(self, name: str, round_: int, traced: bool, body) -> Op:
        """Run ``body(op)``, which times the call into ``op.t_call`` /
        ``op.wall_s`` and checks the output, between two status-store
        snapshots. Any exception marks the op failed."""
        op = Op(name, round_, traced)
        if self._store is None:
            self._store = StatusStore(self.spark)
            self._last = self._store.snapshot()
        before = self._last
        try:
            if traced:
                layers.instrument(self.tracer)
                try:
                    with self.tracer.op_scope(len(self.ops), name):
                        body(op)
                finally:
                    self.tracer.unpatch()
            else:
                body(op)
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            op.ok = False
            op.error = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
        # Snapshots chain from op to op, so stage work that lands after
        # an op returned (a cancelled job's killed tasks) counts
        # towards the next op instead of being lost.
        self._last = self._store.snapshot()
        op.spark = diff(before, self._last)
        self._flag_failed_tasks(op)
        self.ops.append(op)
        return op

    @staticmethod
    def _flag_failed_tasks(op: Op) -> None:
        # Killed tasks (the stream path cancels its drained noop job)
        # are not failures; failed tasks are.
        if op.spark["tasks_failed"] and op.ok:
            op.ok = False
            op.error = f"{op.spark['tasks_failed']:.0f} Spark tasks failed"

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait for Spark to go idle and add what it did since the last
        op's snapshot to that op."""
        if not self.ops:
            return
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.time() + timeout_s
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        after = self._store.snapshot()
        late = diff(self._last, after)
        self._last = after
        op = self.ops[-1]
        for k, v in late.items():
            if k != "first_task_launch":
                op.spark[k] += v
        self._flag_failed_tasks(op)

    def rpm(self, *args, **kwargs):
        from burla_spark import rpm

        return rpm.remote_parallel_map(*args, spark=self.spark, **kwargs)


def _busy(results, pid_at, t0_at, t1_at) -> tuple[float, dict]:
    per_pid: dict = {}
    for r in results:
        per_pid[r[pid_at]] = per_pid.get(r[pid_at], 0.0) + (r[t1_at] - r[t0_at])
    return sum(per_pid.values()), per_pid


class Workload:
    name = ""
    why = ""

    def __init__(self, bench: Bench):
        self.b = bench

    def prepare(self) -> None:
        """Build the seeded inputs and expected outputs (not counted
        in set-up time)."""

    def warm_up(self) -> None:
        """One small call (one pass for the ETL mix): part of set-up."""
        raise NotImplementedError

    def prime(self) -> None:
        """Untimed full-size work after set-up, so timed ops do not
        start on the steepest part of JIT and heap warm-up."""

    def run_round(self, k: int, traced: bool) -> None:
        raise NotImplementedError

    def report(self, ops: list[Op]) -> dict:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        return {}


class MapTiny1M(Workload):
    name = "map_tiny_1m"
    why = "1,000,000 tiny inputs per call: driver pickling, Arrow shipping, per-row loop and materialization dominate"
    N = 1_000_000

    def warm_up(self) -> None:
        out = self.b.rpm(userfns.make_doubler(self._marks("warm")), list(range(100)))
        check(sorted(out) == [2 * x for x in range(100)], "warm-up results wrong")

    def _marks(self, tag) -> str:
        d = os.path.join(self.b.run_dir, f"marks-{tag}")
        os.makedirs(d, exist_ok=True)
        return d

    def prepare(self) -> None:
        import numpy as np

        rng = np.random.default_rng(self.b.seed)
        arr = rng.integers(0, 1 << 20, self.N)
        self.inputs = arr.tolist()
        self.expected = np.sort(arr * 2)

    def run_round(self, k: int, traced: bool) -> None:
        import numpy as np

        def body(op: Op) -> None:
            marks = self._marks(k)
            fn = userfns.make_doubler(marks)
            op.t_call = time.time()
            out = self.b.rpm(fn, self.inputs)
            op.wall_s = time.time() - op.t_call
            check(len(out) == self.N, f"{len(out)} results for {self.N} inputs")
            check(bool(np.array_equal(np.sort(np.asarray(out)), self.expected)),
                  "results differ from the expected multiset")
            starts = [float(f.split("-", 1)[1]) for f in os.listdir(marks)]
            op.facts.update(inputs=self.N, dispatch_s=min(starts) - op.t_call)
            shutil.rmtree(marks)

        self.b.run_op("map", k, traced, body)

    def report(self, ops):
        return {"inputs_per_s": (_inputs_per_s(ops), "1/s")}


class StreamSkewedCompute(Workload):
    name = "stream_skewed_compute"
    why = "generator=True over skewed pure-Python work: first result, result-stream push granularity, live logs, idle slots behind stragglers"
    N = 20_000
    MEAN_STEPS = 16_000  # about 1 ms of pure-Python work per input here
    SIGMA = 0.5
    HEAVY_SHARE = 0.005
    HEAVY_X = 40
    PRINT_EVERY = 100
    WARM_INPUTS = 100

    def _untimed(self, n: int) -> None:
        got = self._call(self.inputs[:n])[0]
        check(sorted(r[0] for r, _ in got) == list(range(n)), "warm-up results wrong")

    def warm_up(self) -> None:
        self._untimed(self.WARM_INPUTS)

    def prime(self) -> None:
        # The first full-size call runs measurably slower than the ones
        # after it.
        self._untimed(self.N)

    def prepare(self) -> None:
        import numpy as np

        rng = np.random.default_rng(self.b.seed)
        cost = rng.lognormal(0.0, self.SIGMA, self.N)
        cost *= self.MEAN_STEPS / cost.mean()
        heavy = rng.choice(self.N, size=int(self.N * self.HEAVY_SHARE), replace=False)
        cost[heavy] *= self.HEAVY_X
        self.inputs = [(i, int(c)) for i, c in enumerate(cost)]

    def _call(self, inputs):
        lines: list = []

        def sink(idx: int, text: str) -> None:
            lines.append((idx, text, time.time()))

        got = []
        t_call = time.time()
        for r in self.b.rpm(userfns.spin, inputs, generator=True, stdout_sink=sink):
            got.append((r, time.time()))
        return got, lines, t_call, time.time() - t_call

    def run_round(self, k: int, traced: bool) -> None:
        def body(op: Op) -> None:
            got, lines, op.t_call, op.wall_s = self._call(self.inputs)
            seen = Counter(r[0] for r, _ in got)
            check(len(got) == self.N and len(seen) == self.N
                  and set(seen) == set(range(self.N)),
                  f"{len(got)} results, {len(seen)} distinct indices for {self.N} inputs")
            for r, _ in got:
                n = self.inputs[r[0]][1]
                check(r[1] == n * (n - 1) // 2, f"input {r[0]}: wrong result {r[1]}")
            printed = Counter(idx for idx, _, _ in lines)
            want = set(range(0, self.N, self.PRINT_EVERY))
            check(set(printed) == want and all(c == 1 for c in printed.values()),
                  f"{len(lines)} printed lines for {len(want)} prints")
            last_done = max(r[4] for r, _ in got)
            first_at = min(t for _, t in got)
            check(first_at < last_done, "first result arrived only after all work ended")
            busy, per_pid = _busy([r for r, _ in got], 2, 3, 4)
            op.facts.update(
                inputs=self.N,
                dispatch_s=min(r[3] for r, _ in got) - op.t_call,
                first_result_s=first_at - op.t_call,
                result_lags=[t - r[4] for r, t in got],
                fn_busy_s=busy,
                busy_per_pid=per_pid,
                stdout_lines=len(lines),
                stdout_lags_ms=[(t - float(text.split()[1])) * 1e3 for _, text, t in lines],
            )

        self.b.run_op("stream", k, traced, body)

    def report(self, ops):
        good = [op for op in ops if op.ok]
        lags = [x for op in good for x in op.facts["result_lags"]]
        return {
            "inputs_per_s": (_inputs_per_s(ops), "1/s"),
            "first_result_s": (statistics.median(op.facts["first_result_s"] for op in good), "s"),
            "result_lag_p50_s": (nearest_rank(lags, 50), "s"),
            "result_lag_p99_s": (nearest_rank(lags, 99), "s"),
        }


class MapBlobsJournaled(Workload):
    name = "map_blobs_journaled"
    why = "detach=True over ~50 MB of 64-256 KB blobs per call: byte-dominated rpm path plus the on-disk job journal"
    TOTAL = 50 << 20
    MIN_SIZE = 64 << 10
    MAX_SIZE = 256 << 10
    WARM_BLOBS = 4

    def warm_up(self) -> None:
        blobs = self.blobs[:self.WARM_BLOBS]
        out = self.b.rpm(userfns.reverse_blob, blobs, detach=True).result()
        check(sorted(r[3] for r in out) == sorted(b[::-1] for b in blobs), "warm-up results wrong")

    def prime(self) -> None:
        # The first ~50 MB transfer grows the JVM heap and runs
        # measurably slower than the ones after it.
        out = self.b.rpm(userfns.reverse_blob, self.blobs, detach=True).result()
        check(Counter(hashlib.sha1(r[3]).digest() for r in out) == self.expected,
              "priming results wrong")

    def prepare(self) -> None:
        import numpy as np

        rng = np.random.default_rng(self.b.seed)
        sizes = []
        while sum(sizes) < self.TOTAL:
            sizes.append(int(rng.integers(self.MIN_SIZE, self.MAX_SIZE + 1)))
        data = rng.bytes(sum(sizes))
        offsets = np.cumsum([0] + sizes)
        self.blobs = [data[offsets[i]:offsets[i + 1]] for i in range(len(sizes))]
        self.expected = Counter(hashlib.sha1(b[::-1]).digest() for b in self.blobs)

    def run_round(self, k: int, traced: bool) -> None:
        from burla_spark import jobs

        journal = jobs._journal_dir(self.b.spark)

        def body(op: Op) -> None:
            op.t_call = time.time()
            job = self.b.rpm(userfns.reverse_blob, self.blobs, detach=True)
            with open(os.path.join(journal, job.job_id, "manifest.json")) as fh:
                manifest = json.load(fh)
            out = job.result()
            op.wall_s = time.time() - op.t_call
            job_dir = os.path.join(journal, job.job_id)
            check(manifest.get("redrivable") is True, f"manifest not redrivable: {manifest}")
            check(os.path.isfile(os.path.join(job_dir, "results.parquet")),
                  "results.parquet missing from the journal")
            check(len(out) == len(self.blobs), f"{len(out)} results for {len(self.blobs)} inputs")
            check(Counter(hashlib.sha1(r[3]).digest() for r in out) == self.expected,
                  "results differ from the expected multiset")
            busy, per_pid = _busy(out, 0, 1, 2)
            op.facts.update(
                inputs=len(self.blobs),
                dispatch_s=min(r[1] for r in out) - op.t_call,
                fn_busy_s=busy,
                busy_per_pid=per_pid,
            )
            shutil.rmtree(job_dir)

        self.b.run_op("blobs", k, traced, body)

    def report(self, ops):
        return {"inputs_per_s": (_inputs_per_s(ops), "1/s")}


class _Collected:
    """A collected result in the shape ``tests.oracle.compare`` reads,
    so the check never runs a second action on the timed DataFrame."""

    def __init__(self, rows, columns):
        self._rows = rows
        self.columns = columns

    def collect(self):
        return self._rows


@dataclass
class _Result:
    description: list
    rows: list

    def fetchall(self):
        return self.rows


class _OracleAnswers:
    """DuckDB connection stand-in serving precomputed oracle answers."""

    def __init__(self, answers: dict):
        self._answers = answers

    def execute(self, sql):
        return _Result(*self._answers[sql])


def _oracle_answers(sf_dir: str, sqls: list) -> dict:
    from tests.oracle import duck_connection

    con = duck_connection(sf_dir)
    try:
        out = {}
        for sql in sqls:
            cur = con.execute(sql)
            out[sql] = ([(d[0],) for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _oracle_main() -> None:
    """Child-process entry: (sf_dir, sqls) pickled on stdin, the
    answers pickled on stdout."""
    sf_dir, sqls = pickle.load(sys.stdin.buffer)
    pickle.dump(_oracle_answers(sf_dir, sqls), sys.stdout.buffer)


class EtlQueryMix(Workload):
    name = "etl_query_mix"
    why = "passes over registry queries at sf0.1 in a seeded order, rpm idle: Parquet scans, joins, shuffles, AQE, vector similarity, an AvailableNow stream"
    QUERIES = layers.ETL_QUERIES
    APPROX = {"embedding_cosine_topk"}  # float sums in different orders
    PRIME_PASSES = 4

    def __init__(self, bench: Bench):
        super().__init__(bench)
        from burla_spark.plans.registry import all_specs

        specs = {s.name: s for s in all_specs()}
        missing = [q for q in self.QUERIES if q not in specs or specs[q].oracle is None]
        if missing:
            raise RuntimeError(f"queries missing from the registry or without an oracle: {missing}")
        self.specs = {q: specs[q] for q in self.QUERIES}
        # One seeded order for every pass of the run, warm-up included:
        # a pass in another order than the one before it ran up to ~30 %
        # slower here.
        self.order = list(self.QUERIES)
        random.Random(bench.seed).shuffle(self.order)

    def prepare(self) -> None:
        # DuckDB runs in its own process so the driver's memory
        # high-water mark stays the program's own. A plain child process,
        # not a multiprocessing pool: a pool leaves its resource tracker
        # running past the end of the run.
        sqls = [spec.oracle for spec in self.specs.values()]
        out = subprocess.run(
            [sys.executable, "-c", "from perfbench.workloads import _oracle_main; _oracle_main()"],
            input=pickle.dumps((SF_DIR, sqls)), stdout=subprocess.PIPE, check=True)
        self.oracle = _OracleAnswers(pickle.loads(out.stdout))

    def _untimed_pass(self) -> None:
        for q in self.order:
            self.specs[q].spark(self.b.spark, SF_DIR).collect()

    def warm_up(self) -> None:
        self._untimed_pass()  # compiles every plan

    def prime(self) -> None:
        # After the cold pass the JIT keeps warming: here the second pass
        # ran ~1.8x and the fifth ~1.1x the time of the eighth.
        for _ in range(self.PRIME_PASSES):
            self._untimed_pass()

    def run_round(self, k: int, traced: bool) -> None:
        # One op is one pass over every query: the median of single
        # queries would jump between queries of different cost.
        self.b.run_op("pass", k, traced, self._pass)

    def _pass(self, op: Op) -> None:
        from tests.oracle import compare

        times, wrong = {}, []
        op.t_call = time.time()
        for q in self.order:
            spec = self.specs[q]
            t = time.time()
            if self.b.tracer is not None and op.traced:
                with self.b.tracer.span("plans.build"):
                    df = spec.spark(self.b.spark, SF_DIR)
            else:
                df = spec.spark(self.b.spark, SF_DIR)
            rows = df.collect()
            times[q] = time.time() - t
            try:
                compare(_Collected(rows, df.columns), self.oracle, spec.oracle,
                        exact=q not in self.APPROX)
            except AssertionError as exc:
                wrong.append(f"{q}: oracle mismatch: {exc}")
        # The op's time is its queries' own, without the oracle checks.
        op.wall_s = sum(times.values())
        op.facts["query_s"] = times
        check(not wrong, "; ".join(wrong))

    def report(self, ops):
        queries = sum(len(op.facts["query_s"]) for op in ops)
        return {"queries_per_min": (queries / sum(op.wall_s for op in ops) * 60.0, "1/min")}


def _inputs_per_s(ops) -> float:
    return sum(op.facts.get("inputs", 0) for op in ops if op.ok) / sum(op.wall_s for op in ops)


WORKLOADS = {w.name: w for w in (MapTiny1M, StreamSkewedCompute, MapBlobsJournaled, EtlQueryMix)}
