"""CDC engine benchmark: one workload, one seed, one JSON result line.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload trickle_stream --seed 1 --seconds 15 --trace 0

The generator (``gen.py``, its own process) writes the workload's
envelope files under a temporary root inside the checkout before any
timing starts. The engine then bootstraps state with ``initial_load``
and drains the change files through its own streaming entry points
(``run_cdc_stream`` or ``CdcRegistry.run_stream``), and the benchmark
reads the state back with ``ParquetStateTable.lookup`` / ``read``.
Every stored state, lookup and rollup is checked against the DuckDB
oracle (``oracle.py``); any mismatch makes ``correct`` false and the
exit code 1.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (``probes.py``) and writes its spans
to ``.perfbench_out/``. The last stdout line is the result JSON; a
human-readable summary with the effective configuration, sample counts
and ``error_rate`` goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from config import N_BUCKETS, READ_ROUNDS_MAX, SCANS_PER_ROUND, TABLES, WORKLOADS, topic_of  # noqa: E402

PACKAGE = "spark_streaming_with_debezium_spark"
#: Driver JVM heap (the engine's own default, 48g, exceeds small boxes).
#: Small enough that the heap reaches its cap early in a run, so peak
#: RSS does not swing with where heap growth happened to stop.
DRIVER_MEM = "1g"
#: Bootstraps per run; setup_s reports session start + their median.
SETUP_REPS = 3
ENVELOPE_DDL = "key STRING, value STRING, topic STRING, `partition` INT, `offset` BIGINT"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def freshness(due: list[tuple[float, int]], commit_of_file: dict[int, float]) -> list[float]:
    """Per event, commit time of the batch holding its file minus the
    time the event was due. ``due`` holds (due time, file) per event;
    a file never committed raises, since its events were lost."""
    return [commit_of_file[f] - t for t, f in due]


def backlog_max(releases: list[tuple[float, int]], commits: list[tuple[float, int]]) -> int:
    """Largest count of released-but-uncommitted events seen at any
    release instant; ``releases``/``commits`` are (time, events)."""
    worst = 0
    for t, _ in releases:
        released = sum(n for r, n in releases if r <= t)
        committed = sum(n for c, n in commits if c <= t)
        worst = max(worst, released - committed)
    return worst


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def progress_batches(query) -> dict[int, dict]:
    """Micro-batches that read input: id → commit epoch, trigger and
    addBatch seconds. (``numInputRows`` only tells data batches apart:
    it counts every re-read of the source within the batch.)"""
    out = {}
    for p in query.recentProgress:
        p = json.loads(p.json)
        if not p.get("numInputRows"):
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = p["durationMs"]
        out[int(p["batchId"])] = {
            "commit": start + dur["triggerExecution"] / 1000,
            "trigger_s": dur["triggerExecution"] / 1000,
            "add_batch_s": dur.get("addBatch", 0) / 1000,
            "events": 0,
        }
    return out


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Bench:
    """One workload run: session, bootstrap, stream, reads, oracle."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tmp: str):
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.gen = os.path.join(tmp, "gen")
        self.inbox = os.path.join(tmp, "in")
        self.checkpoint = os.path.join(tmp, "checkpoint")
        self.tracer = None
        self.released: list[tuple[int, float]] = []  # (file index, epoch)
        self.late: list[float] = []
        self.lookups: list[dict] = []
        self.scans: list[dict] = []
        self.wall: dict[str, float] = {}  # seconds per phase of the run

    # -- generator -----------------------------------------------------
    def generate(self) -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.name,
             "--seed", str(self.seed), "--seconds", str(self.seconds), "--out", self.gen],
            check=True,
        )
        with open(os.path.join(self.gen, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        import pyarrow.parquet as pq

        lk = pq.read_table(os.path.join(self.gen, "lookups.parquet")).to_pydict()
        self.lookup_sets: dict[int, list[int]] = {}
        for s, k in zip(lk["set"], lk["id"]):
            self.lookup_sets.setdefault(s, []).append(k)

    # -- session and bootstrap -----------------------------------------
    def start_session(self) -> None:
        from pyspark.sql import types as T

        cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # no hsperfdata files in the system temp dir, from the launcher JVM
        # spark-submit starts or from the driver: a run writes only inside its root
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        java_tmp = os.path.join(self.tmp, "java")
        os.makedirs(java_tmp)
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp}",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        from spark_streaming_with_debezium_spark.cdc.envelope import TableSpec
        from spark_streaming_with_debezium_spark.session import get_spark

        types = {"long": T.LongType(), "string": T.StringType()}
        self.specs = {
            t: TableSpec(
                name=t,
                key_cols=("id",),
                value_schema=T.StructType([T.StructField(c, types[ty]) for c, ty in TABLES[t]["columns"]]),
                topic=topic_of(t),
            )
            for t in self.cfg["tables"]
        }
        if self.trace:
            import probes
            from tracer import Tracer

            self.tracer = Tracer()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        self.session_s = time.perf_counter() - t0
        if self.trace:
            self.patches = probes.install(self.tracer, self.spark)
        self.effective = {
            "master": self.spark.sparkContext.master,
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "n_buckets": N_BUCKETS,
            **self.conf,
        }

    def bootstrap(self) -> None:
        """``SETUP_REPS`` timed bootstraps of every table into fresh
        directories (the last one is the live state), with an untimed
        warm-up on the first, throwaway one."""
        from spark_streaming_with_debezium_spark.cdc.pipeline import initial_load
        from spark_streaming_with_debezium_spark.cdc.registry import CdcRegistry

        self.init_s = []
        for rep in range(SETUP_REPS):
            root = os.path.join(self.tmp, f"state{rep}")
            registry = CdcRegistry(self.spark, root, n_buckets=N_BUCKETS)
            states = {t: registry.register(s) for t, s in self.specs.items()}
            t0 = time.perf_counter()
            for t, spec in self.specs.items():
                raw = self.spark.read.parquet(os.path.join(self.gen, "snapshot", f"{t}.parquet"))
                initial_load(raw, spec, states[t])
            self.init_s.append(time.perf_counter() - t0)
            if rep == 0:
                t0 = time.perf_counter()
                self.warm_up(states)
                self.wall["warmup_s"] = time.perf_counter() - t0
            if rep < SETUP_REPS - 1:
                shutil.rmtree(root)
        self.registry, self.states = registry, states

    def warm_up(self, states) -> None:
        """Untimed: one small merge, lookup and scan on a throwaway state,
        so that one-off JVM warm-up (class loading, code generation) is
        not charged to the first measured batch or read."""
        from pyspark.sql import functions as F

        from spark_streaming_with_debezium_spark.cdc.pipeline import batch_apply

        self.phase("warmup")
        changes = self.spark.read.parquet(os.path.join(self.gen, "warmup.parquet"))
        for t, spec in self.specs.items():
            batch_apply(changes.filter(F.col("topic") == spec.topic), spec, states[t])
        self.timed_lookup(states["customers"], self.lookup_sets[0])
        self.timed_scan(states)
        self.phase("setup")

    # -- write path ----------------------------------------------------
    def start_stream(self):
        from spark_streaming_with_debezium_spark.cdc.pipeline import run_cdc_stream

        os.makedirs(self.inbox)
        raw = self.spark.readStream.schema(ENVELOPE_DDL).parquet(self.inbox)
        if self.cfg["entry"] == "registry":
            return self.registry.run_stream(raw, self.checkpoint, available_now=False)
        (t, spec), = self.specs.items()
        return run_cdc_stream(raw, spec, self.states[t], self.checkpoint, available_now=False)

    def release(self, i: int) -> None:
        name = self.manifest["files"][i]["name"]
        os.rename(os.path.join(self.gen, "batches", name), os.path.join(self.inbox, name))
        self.released.append((i, time.time()))

    def phase(self, name: str) -> None:
        if self.tracer:
            self.tracer.phase = name

    def closed_loop(self, query, deadline: float) -> None:
        """Release one file, wait for its commit, then run a read round;
        after two steps, start another only while it should end by the
        deadline."""
        step_s = 0.0
        for i in range(len(self.manifest["files"])):
            t0 = time.perf_counter()
            if i >= 2 and t0 + step_s > deadline:
                break
            self.phase("write")
            due = time.time()
            self.release(i)
            self.late.append(time.time() - due)
            query.processAllAvailable()
            self.read_round(i + 1)
            step_s = time.perf_counter() - t0

    def open_loop(self, query) -> None:
        """Release every file at its scheduled time from a separate
        thread that never waits for the engine, then drain."""
        self.phase("write")
        files = self.manifest["files"]
        t0 = time.time() + 0.5
        self.open_t0 = t0
        errors = []

        def releaser():
            try:
                for i, f in enumerate(files):
                    due = t0 + f["release_s"]
                    wait = due - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    self.release(i)
                    self.late.append(max(0.0, time.time() - due))
            except Exception as e:  # surfaced after join
                errors.append(e)

        th = threading.Thread(target=releaser, name="perfbench-releaser")
        th.start()
        th.join()
        if errors:
            raise errors[0]
        query.processAllAvailable()

    # -- read path -----------------------------------------------------
    def timed_lookup(self, state, keys: list[int]):
        """Point lookup of ``keys``, collected; returns (seconds, rows)."""
        keys_df = self.spark.createDataFrame([(k,) for k in keys], "id long")
        if not self.tracer:
            t0 = time.perf_counter()
            rows = state.lookup(keys_df).toArrow()
            return time.perf_counter() - t0, rows
        import probes

        buckets, files = probes.lookup_counts(state, keys_df)
        with self.tracer.span("lookup", buckets_read=buckets, files_read=files) as s:
            rows = state.lookup(keys_df).toArrow()
        return s.duration, rows

    def timed_scan(self, states):
        """Full-state rollup, collected; returns (table, seconds, rows)."""
        from pyspark.sql import functions as F

        table = "orders" if "orders" in states else "customers"
        group, value = TABLES[table]["rollup"]
        t0 = time.perf_counter()
        rows = (
            states[table].read().groupBy(group)
            .agg(F.count(F.lit(1)).alias("n"), F.sum(value).alias("s")).toArrow()
        )
        return table, time.perf_counter() - t0, rows

    def read_round(self, n_files: int) -> None:
        """``lookups_per_round`` lookups, then ``SCANS_PER_ROUND`` rollup scans."""
        self.phase("read")
        for _ in range(self.cfg["lookups_per_round"]):
            keys = self.lookup_sets[len(self.lookups) + 1]
            s, rows = self.timed_lookup(self.states["customers"], keys)
            self.lookups.append({"s": s, "keys": keys, "rows": rows, "files": n_files})
        for _ in range(SCANS_PER_ROUND):
            table, s, rows = self.timed_scan(self.states)
            self.scans.append({"s": s, "table": table, "rows": rows, "files": n_files})

    # -- whole run -----------------------------------------------------
    def run(self) -> dict:
        t = time.perf_counter()
        self.generate()
        self.wall["generate_s"] = time.perf_counter() - t
        self.start_session()
        t = time.perf_counter()
        self.bootstrap()
        self.wall["bootstrap_s"] = time.perf_counter() - t
        query = self.start_stream()
        start = time.perf_counter()
        failed_batches = 0
        try:
            if self.cfg["rate"]:
                self.open_loop(query)
            else:
                self.closed_loop(query, start + self.seconds)
        except Exception as e:  # a failed batch surfaces here; report it
            print(f"write path failed: {e!r}", file=sys.stderr)
            failed_batches = 1
        finally:
            query.stop()
        n_files = len(self.released)
        if self.cfg["rate"]:
            # read phase: rounds until the next would overrun the run
            deadline = start + self.seconds
            for _ in range(READ_ROUNDS_MAX):
                t0 = time.perf_counter()
                self.read_round(n_files)
                now = time.perf_counter()
                if now + (now - t0) > deadline:
                    break
        self.wall["measure_s"] = time.perf_counter() - start
        rss_mb = (vm_hwm_kb(self.jvm_pid()) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        t = time.perf_counter()
        result = self.score(query, n_files, failed_batches, rss_mb)
        self.wall["score_s"] = time.perf_counter() - t
        return result

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def score(self, query, n_files: int, failed_batches: int, rss_mb: float) -> dict:
        import pyarrow.parquet as pq

        from oracle import Oracle

        batches = progress_batches(query)
        batch_of = source_log_batches(self.checkpoint)
        files = self.manifest["files"]
        lost = [i for i, _ in self.released if batch_of.get(files[i]["name"]) not in batches]
        commit_of_file = {}
        for i, _ in self.released:
            b = batch_of.get(files[i]["name"])
            if b in batches:
                commit_of_file[i] = batches[b]["commit"]
                batches[b]["events"] += files[i]["events"]
        released_at = dict(self.released)
        due: list[tuple[float, int]] = []
        if self.cfg["rate"]:
            for t in self.specs:
                tr = pq.read_table(os.path.join(self.gen, "truth", f"{t}_events.parquet"),
                                   columns=["file", "due_s"]).to_pydict()
                due += [(self.open_t0 + d, f) for f, d in zip(tr["file"], tr["due_s"]) if f in commit_of_file]
        else:
            for i in commit_of_file:
                due += [(released_at[i], i)] * files[i]["events"]
        fresh = freshness(due, commit_of_file)
        applied = sum(b["events"] for b in batches.values())
        busy = sum(b["trigger_s"] for b in batches.values())

        cols = {t: [c for c, _ in TABLES[t]["columns"]] for t in self.specs}
        oracle = Oracle(os.path.join(self.gen, "truth"), cols)
        mismatched = {"state": 0, "lookups": 0, "scans": 0}
        failed = failed_batches + len(lost)
        live_rows = 0
        state_bytes = 0
        try:
            for t, state in self.states.items():
                oracle.replay(t, n_files)
                m = oracle.state_mismatches(t, state.path)
                mismatched["state"] += m
                failed += m > 0
                bucket_files = [os.path.join(d, f) for d, _, fs in os.walk(state.path) for f in fs
                                if f.endswith(".parquet")]
                live_rows += sum(pq.read_metadata(f).num_rows for f in bucket_files)
                state_bytes += dir_bytes(state.path)
            for n in sorted({r["files"] for r in self.lookups + self.scans}):
                for t in self.specs:
                    oracle.replay(t, n)
                for lk in (r for r in self.lookups if r["files"] == n):
                    m = oracle.lookup_mismatches("customers", lk["keys"], lk["rows"])
                    mismatched["lookups"] += m
                    failed += m > 0
                for sc in (r for r in self.scans if r["files"] == n):
                    group, value = TABLES[sc["table"]]["rollup"]
                    m = oracle.rollup_mismatches(sc["table"], group, value, sc["rows"])
                    mismatched["scans"] += m
                    failed += m > 0
        finally:
            oracle.close()
        attempted = len(batches) + len(lost) + failed_batches + len(self.states) + len(self.lookups) + len(self.scans)
        lookup_s = [r["s"] for r in self.lookups]
        commits = [(c, files[i]["events"]) for i, c in commit_of_file.items()]
        releases = [(t, files[i]["events"]) for i, t in self.released]
        e2e = {
            "setup_s": (self.session_s + statistics.median(self.init_s), "s"),
            "apply_events_per_s": (applied / busy if busy else 0.0, "events/s"),
            "freshness_p50_s": (percentile(fresh, 50) if fresh else 0.0, "s"),
            "freshness_p95_s": (percentile(fresh, 95) if fresh else 0.0, "s"),
            "lookup_p50_s": (percentile(lookup_s, 50), "s"),
            "lookup_p95_s": (percentile(lookup_s, 95), "s"),
            "scan_p50_s": (percentile([r["s"] for r in self.scans], 50), "s"),
            "state_bytes_per_row": (state_bytes / live_rows if live_rows else 0.0, "B/row"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
        summary = {
            "workload": self.name,
            "seed": self.seed,
            "config": self.effective,
            "inputs": {k: v for k, v in self.manifest.items() if k != "files"},
            "wall": self.wall,
            "error_rate": failed / attempted,
            "mismatched_rows": mismatched,
            "samples": {
                "freshness_events": len(fresh),
                "freshness_batches": len(batches),
                "lookups": len(self.lookups),
                "scans": len(self.scans),
                "setup_reps": len(self.init_s),
            },
            "session_start_s": self.session_s,
            "init_s": self.init_s,
            "generator_late_s": max(self.late, default=0.0),
            "backlog_max_events": backlog_max(releases, commits),
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        }
        metrics = summary["end_to_end"]
        if self.tracer:
            import layers

            metrics = layers.per_layer(self, batches, summary)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
            "summary": summary,
        }

    def close(self) -> None:
        """Stop Spark and the JVM it started, and wait for it to exit."""
        if getattr(self, "patches", None):
            self.patches.undo()
        if not hasattr(self, "spark"):
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="CDC engine benchmark (one workload run).")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    tmp = os.path.join(root, ".perfbench_tmp", f"{a.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.makedirs(os.environ["TMPDIR"])
    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace), tmp)
    try:
        result = bench.run()
    finally:
        t = time.perf_counter()
        bench.close()
        bench.wall["close_s"] = time.perf_counter() - t
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still holds its own temp root there
    summary = result.pop("summary")
    if bench.tracer:
        out = os.path.join(root, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        bench.tracer.dump(os.path.join(out, f"trace-{a.workload}-{a.seed}.json"),
                          {"summary": summary, "per_layer": result["metrics"]})
    print(json.dumps(summary, indent=1, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
