"""Benchmark of the async stream-join engine.

    python3 perfbench/run.py --workload async-stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The seed generates the workload's
input files (perfbench/gen.py); the benchmark then starts the engine's
session, runs passes of the workload's calls (perfbench/calls.py),
checks the outputs against DuckDB (perfbench/reference.py) and prints,
as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs a separate traced measurement
and reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402
from perfbench.trace import Tracer, drain, job_durations_ms, job_metrics, self_times  # noqa: E402

WORKLOADS = ("async-stream", "skew-batch", "dedup-corpus")
MIN_BATCH_SAMPLES = 100  # p90 needs 10 samples beyond it
HARD_STOP_S = 150       # no new pass starts after this much run time
# The single-core baseline pass is skipped once a traced run has taken
# this long, so that the run still ends within 180 s on a slow host.
BASELINE_START_BY_S = 120

END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "1/s",
}

LAYERS = ("session", "sources", "operators", "streaming", "functions", "blocks")
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_s": "s",
    "sources.input_bytes": "bytes",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    "streaming.construct_s": "s",
    "streaming.data_batches": "count",
    "streaming.addBatch_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows_peak": "count",
    "streaming.state_bytes_peak": "bytes",
    "streaming.late_dropped": "count",
    "functions.construct_s": "s",
    "functions.construct_jobs": "count",
    "functions.exec_s": "s",
    "functions.shuffle_write_bytes": "bytes",
    "functions.spill_bytes": "bytes",
    "functions.pair_yield": "ratio",
    "blocks.alive_after": "count",
    "blocks.release_s": "s",
    "memory.peak_rss_mb": "MB",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "bench.self_s": "s",
    "trace.rows_per_cpu_s_ratio": "ratio",
    "baseline.local1_ratio": "ratio",
    "wall.rows_per_s": "1/s",
    "wall.first_pass_s": "s",
    "cpu.first_pass_s": "s",
    "batch_ms.p50": "ms",
    "batch_ms.p90": "ms",
    "batch_ms.samples": "count",
    "fail_share": "ratio",
}


def reset_peak_rss() -> None:
    """Reset this process's peak-RSS mark, so the generator's arrays
    do not count as the engine's memory."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _proc_stats() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name, by pid."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    out[int(pid)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return out


def _tree(stats_by_pid: dict[int, list[str]]) -> set[int]:
    """This process and its live descendants (the JVM and any Python
    workers)."""
    parent = {pid: int(f[1]) for pid, f in stats_by_pid.items()}
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def cpu_s() -> float:
    """CPU seconds, user and system, that this process and its live
    descendants have used, with their reaped children's. Time a thread
    waits for a core, or loses to the hypervisor, is not counted."""
    st = _proc_stats()
    ticks = sum(sum(int(x) for x in st[p][11:15]) for p in _tree(st) if p in st)
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the peak resident sets of this process and every live
    descendant."""
    kb = 0
    for pid in _tree(_proc_stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class Session:
    """Starts the engine's session in a fresh JVM and stops it, JVM included."""

    def __init__(self, work: str):
        self.confs = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }

    def start(self, cores: int, tr: Tracer):
        from myasynstreamjoin_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        t0 = time.perf_counter()
        with tr.span("get_spark", "session", "start"):
            spark = get_spark(app_name="perfbench", extra_confs=self.confs)
        t1 = time.perf_counter()
        tr.sc = spark.sparkContext
        with tr.span("warmup", "session", "warmup", jobs=True):
            spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        return spark, t1 - t0, time.perf_counter() - t1

    @staticmethod
    def stop(spark) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        try:
            spark.stop()
            if gw is not None:
                gw.shutdown()
        finally:
            # The JVM exits when its stdin closes; a run cut short by a
            # signal may have left py4j unusable, so do not rely on it.
            if gw is not None:
                gw.proc.stdin.close()
                try:
                    gw.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None


def make_workload(name: str, data: str, work: str, props: dict):
    from perfbench import calls, reference

    if name == "async-stream":
        model = reference.late_drop_model(
            reference.stream_batches(os.path.join(data, "events.parquet")),
            gen.STREAM_WINDOW_MS, gen.STREAM_DELAY_MS,
        )
        return calls.AsyncStream(data, props["rows"], work, model)
    if name == "skew-batch":
        return calls.SkewBatch(data, props["rows"])
    return calls.DedupCorpus(data, props["rows"])


class Runner:
    """One run: set-up, a first pass whose outputs are checked, then
    warm passes."""

    def __init__(self, args, work: str, data: str, props: dict):
        self.args = args
        self.work = work
        self.data = data
        self.t0 = time.perf_counter()
        self.tr = Tracer(enabled=bool(args.trace), run_id=uuid.uuid4().hex[:8])
        c0 = cpu_s()
        import perfbench.calls  # noqa: F401  (the engine import is part of set-up)
        self.setup_cpu_s = cpu_s() - c0
        self.w = make_workload(args.workload, data, work, props)
        self.sess = Session(work)
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.progress = None
        self.seen_jobs: set[int] = set()
        self.spark = None

    # -- passes ---------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Start the session in a fresh JVM and warm it up. Adds the CPU
        time it took to ``setup_cpu_s``; returns the wall times of the
        start and the warm-up."""
        c0 = cpu_s()
        with self.tr.span("setup", "bench", "setup"):
            self.spark, start_s, warm_s = self.sess.start(self.cores, self.tr)
        self.setup_cpu_s += cpu_s() - c0
        if self.w.name == "async-stream":
            from perfbench.calls import Progress

            self.progress = Progress()
            self.spark.streams.addListener(self.progress)
        self.new_jobs()
        return start_s, warm_s

    def one_pass(self, traced: bool, collect: bool = False):
        from perfbench.calls import Pass

        tr = self.tr if traced else Tracer(False, "")
        p = Pass(self.spark, tr, collect=collect)
        n_events = len(self.progress.events) if self.progress else 0
        n_runs = len(self.progress.run_ids) if self.progress else 0
        c = cpu_s()
        t = time.perf_counter()
        with tr.span("pass", "bench", "pass") as ps:
            self.w.run(p)
        wall = time.perf_counter() - t
        drain(self.spark.sparkContext)
        cpu = cpu_s() - c
        self.attempted += p.attempted
        self.failed += p.failed
        self.errors += p.errors
        rec = {"wall": wall, "cpu": cpu, "span": ps, "outputs": p.outputs,
               "job_ms": job_durations_ms(self.spark.sparkContext, self.new_jobs())}
        if self.progress is not None:
            rec["progress"] = self.progress.events[n_events:]
            rec["stream_runs"] = self.progress.run_ids[n_runs:]
            self.check_late_drops(rec)
        return rec

    def check_late_drops(self, rec) -> None:
        """Every replay must drop exactly the model's (key, window) groups."""
        dropped = sum(
            o.get("numRowsDroppedByWatermark", 0)
            for e in rec["progress"] for o in e.get("stateOperators", [])
        )
        rec["late_dropped"] = dropped
        if rec["stream_runs"] and dropped != self.w.model["total"]:
            self.failed += 1
            self.errors.append(
                f"stream_replay: dropped {dropped} late groups, model says {self.w.model['total']}")

    def new_jobs(self) -> list[int]:
        """Ids of the jobs without a job group that ran since the last call."""
        ids = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        new = sorted(ids - self.seen_jobs)
        self.seen_jobs |= ids
        return new

    @staticmethod
    def data_batches(rec) -> list[dict]:
        return [e for e in rec.get("progress", []) if e["numInputRows"] > 0]

    def batch_samples(self, recs) -> list[float]:
        """Micro-batch trigger times of the stream workload; Spark job
        times of the batch workloads."""
        if self.progress is not None:
            return [float(e["durationMs"]["triggerExecution"])
                    for r in recs for e in self.data_batches(r)]
        return [d for r in recs for d in r["job_ms"]]

    def warm_passes(self, first, traced_too: bool):
        """Warm passes until the run has measured for --seconds, at
        least one. With ``traced_too``, after two plain passes, every
        traced pass sits between two plain ones, so that the tracing
        overhead is not confused with the warming of later passes (the
        first warm pass still warms steeply), and the passes go on until
        there are MIN_BATCH_SAMPLES batch samples, counting the first
        pass."""
        plain, traced = [], []
        t_start = time.perf_counter()
        if traced_too:
            plain += [self.one_pass(traced=False), self.one_pass(traced=False)]

        def enough() -> bool:
            if time.perf_counter() - t_start < self.args.seconds:
                return False
            if traced_too:
                return len(traced) >= 1 and len(
                    self.batch_samples([first] + plain + traced)) >= MIN_BATCH_SAMPLES
            return len(plain) >= 1

        while time.perf_counter() - self.t0 < HARD_STOP_S and not enough():
            if traced_too:
                traced.append(self.one_pass(traced=True))
            plain.append(self.one_pass(traced=False))
        return plain, traced

    # -- checks ---------------------------------------------------------
    def verify(self, out: dict) -> None:
        """Compare the first pass's outputs with DuckDB's."""
        from perfbench import reference

        con = reference.connect(os.path.join(self.work, "tmp"))
        try:
            if self.w.name == "async-stream":
                refs = reference.async_stream_refs(con, self.data, self.w.model)
            elif self.w.name == "skew-batch":
                refs = reference.skew_batch_refs(con, self.data)
            else:
                from perfbench.calls import MINHASH_THRESHOLD, NGRAM_THRESHOLD, SPAN_K

                refs = reference.dedup_corpus_refs(
                    con, self.data, MINHASH_THRESHOLD, NGRAM_THRESHOLD, SPAN_K)
                self.lsh_candidates = refs.pop("lsh_candidates")
        finally:
            con.close()
        for name, want in refs.items():
            self.attempted += 1
            got = sorted(reference.norm(r) for r in out.get(name, []))
            if name not in out or got != want:
                self.failed += 1
                self.errors.append(
                    f"{name}: {len(got)} rows differ from the reference's {len(want)}")

    # -- reports --------------------------------------------------------
    def end_to_end(self) -> dict:
        first = self.one_pass(traced=False, collect=True)
        plain, _ = self.warm_passes(first, traced_too=False)
        print(json.dumps({"passes": [{"wall_s": round(r["wall"], 4), "cpu_s": round(r["cpu"], 2)}
                                     for r in [first] + plain]}))
        self.verify(first["outputs"])
        return {
            "setup_s": self.setup_cpu_s,
            "rows_per_cpu_s": self.w.rows * len(plain) / sum(r["cpu"] for r in plain),
        }

    def per_layer(self, start_s: float, warm_s: float) -> dict:
        first = self.one_pass(traced=False, collect=True)
        plain, traced = self.warm_passes(first, traced_too=True)
        rss = peak_rss_mb()
        self.verify(first["outputs"])
        per_pass = [self.layer_metrics(r) for r in traced]
        m = {k: stats.median([pp.get(k, 0.0) for pp in per_pass]) for k in PER_LAYER}
        m["memory.peak_rss_mb"] = rss
        m["session.start_s"] = start_s
        m["session.warmup_s"] = warm_s
        st = self_times(self.tr.spans)
        m["session.self_s"] = sum(st[s.id] for s in self.tr.spans if s.layer == "session")
        m.update(self.stream_metrics(traced))
        if self.w.name == "dedup-corpus":
            m["functions.pair_yield"] = self.pair_yield(first["outputs"])
        samples = self.batch_samples([first] + plain + traced)
        m["batch_ms.samples"] = len(samples)
        for q in (50, 90):
            try:
                m[f"batch_ms.p{q}"] = stats.percentile(samples, q)
            except ValueError as e:
                print(f"batch_ms.p{q} reported as 0: {e}", file=sys.stderr)
        plain_wall = stats.median([r["wall"] for r in plain])
        m["wall.rows_per_s"] = self.w.rows / plain_wall
        m["wall.first_pass_s"] = first["wall"]
        m["cpu.first_pass_s"] = first["cpu"]
        # plain[k + 1] ran just before traced[k] and plain[k + 2] just after
        m["trace.rows_per_cpu_s_ratio"] = stats.median([
            (plain[k + 1]["cpu"] + plain[k + 2]["cpu"]) / 2 / t["cpu"]
            for k, t in enumerate(traced)])
        if time.perf_counter() - self.t0 < BASELINE_START_BY_S:
            m["baseline.local1_ratio"] = self.local1_wall() / plain_wall
        else:
            print("local[1] baseline skipped: run too slow, reported as 0", file=sys.stderr)
        return m

    def pair_yield(self, out: dict) -> float:
        """Verified MinHash pairs per LSH candidate pair; the engine's
        candidate count is itself checked against DuckDB's."""
        from perfbench.calls import Pass

        self.attempted += 1
        cand = self.w.lsh_candidates(Pass(self.spark, Tracer(False, "")))
        if cand != self.lsh_candidates:
            self.failed += 1
            self.errors.append(f"lsh candidates: {cand} vs reference {self.lsh_candidates}")
        return len(out.get("minhash_lsh_pairs", [])) / cand if cand else 0.0

    def layer_metrics(self, rec) -> dict:
        """Per-layer totals of one traced pass, from its spans and the
        status-store metrics of the jobs each span ran."""
        sc = self.spark.sparkContext
        st = self_times(self.tr.spans)
        m: dict[str, float] = defaultdict(float)
        unit_jobs = defaultdict(list)
        for s in self.tr.spans:
            if not self._under(s, rec["span"].id):
                continue
            layer = s.layer
            m[f"{layer}.self_s"] += st[s.id]
            jm = None
            if s.group is not None:
                jobs = list(sc.statusTracker().getJobIdsForGroup(s.group))
                jm = job_metrics(sc, jobs)
                s.attrs.update(jm)
                m["sources.input_bytes"] += jm["input_bytes"]
                m[f"{layer}.shuffle_write_bytes"] += jm["shuffle_write_bytes"]
                m[f"{layer}.spill_bytes"] += jm["spill_bytes"]
                unit = self._unit_of(s)
                if unit is not None:
                    unit_jobs[unit.id].extend(jobs)
            if s.kind == "construct":
                key = "sources.load_s" if layer == "sources" else f"{layer}.construct_s"
                m[key] += s.duration
                m[f"{layer}.construct_jobs"] += jm["jobs"] if jm else 0
            elif s.kind in ("plan", "exec"):
                m[f"{layer}.{s.kind}_s"] += s.duration
            elif s.kind == "release":
                m["blocks.release_s"] += s.duration
            elif s.kind == "unit" and "alive_after" in s.attrs:
                m["blocks.alive_after"] += s.attrs["alive_after"]
        for run_id in rec.get("stream_runs", []):
            jm = job_metrics(sc, list(sc.statusTracker().getJobIdsForGroup(run_id)))
            m["sources.input_bytes"] += jm["input_bytes"]
        skews = []
        for uid, jobs in unit_jobs.items():
            unit = self.tr.spans[uid]
            if unit.layer == "operators":
                unit.attrs["task_skew"] = job_metrics(sc, jobs)["task_skew"]
                if unit.attrs["task_skew"] is not None:
                    skews.append(unit.attrs["task_skew"])
        if skews:
            m["operators.task_skew"] = max(skews)
        return m

    def _under(self, s, root_id: int) -> bool:
        while s is not None:
            if s.id == root_id:
                return True
            s = self.tr.spans[s.parent] if s.parent is not None else None
        return False

    def _unit_of(self, s):
        while s is not None and s.kind != "unit":
            s = self.tr.spans[s.parent] if s.parent is not None else None
        return s

    def stream_metrics(self, traced) -> dict:
        batches = [e for r in traced for e in self.data_batches(r)]
        if not batches:
            return {}

        def p50(values):
            return stats.percentile(values, 50)

        def ops(e, key):
            return [o.get(key, 0) for o in e.get("stateOperators", [])]

        m = {
            f"streaming.{k}_ms": p50([float(e["durationMs"].get(k, 0)) for e in batches])
            for k in ("addBatch", "walCommit", "queryPlanning", "latestOffset")
        }
        m["streaming.data_batches"] = stats.median(
            [len(self.data_batches(r)) for r in traced])
        m["streaming.state_commit_ms_p50"] = p50(
            [float(sum(ops(e, "commitTimeMs"))) for e in batches])
        m["streaming.state_rows_peak"] = max(sum(ops(e, "numRowsTotal")) for e in batches)
        m["streaming.state_bytes_peak"] = max(sum(ops(e, "memoryUsedBytes")) for e in batches)
        m["streaming.late_dropped"] = stats.median([r["late_dropped"] for r in traced])
        return m

    def local1_wall(self) -> float:
        """One pass on a single-core session in the same JVM: the
        single-threaded baseline. Reported, never gated on."""
        if self.progress is not None:
            self.spark.streams.removeListener(self.progress)
        self.spark.stop()
        self.spark, _, _ = self.sess.start(1, Tracer(False, ""))
        if self.progress is not None:
            self.spark.streams.addListener(self.progress)
        self.new_jobs()
        return self.one_pass(traced=False)["wall"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "myasynstreamjoin_spark", "__init__.py")):
        print(f"engine package myasynstreamjoin_spark not found under {ROOT}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "local", "ckpt"):
        os.makedirs(os.path.join(work, d))
    # Keep every temp file inside the checkout, the launcher JVM's too.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    data = os.path.join(work, "data")
    props = gen.generate(args.workload, args.seed, data)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": props}))
    reset_peak_rss()

    runner = None
    try:
        runner = Runner(args, work, data, props)
        start_s, warm_s = runner.setup()
        if args.trace:
            metrics = runner.per_layer(start_s, warm_s)
            metrics["fail_share"] = runner.failed / max(runner.attempted, 1)
            units = PER_LAYER
            runner.tr.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = runner.end_to_end()
            units = END_TO_END
    finally:
        try:
            if runner is not None and runner.spark is not None:
                Session.stop(runner.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for e in runner.errors:
        print(f"FAIL {e}", file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
