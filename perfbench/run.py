"""Benchmark driver: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload append_ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. Inputs are generated
from ``--seed`` before any timing starts. The session runs on
``local[<cores>]``. After set-up (session start, then the workload's
model training, base load or warm-up) the workload's operation repeats until ``--seconds``
have passed (at least once); every operation's output is checked.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one more
operation with the span tracer on and the Spark event log enabled, and
reports the per-layer metrics (see README.md next to this file).

The last line of standard output is the result object. A run record
(host probes, versions, per-operation walls, per-query walls, spans) is
written under ``perfbench/_work/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)
from workloads import QUERY_SUITE  # noqa: E402

REQUIRED = ("hmm_crf_ner_fromscratch_spark/__init__.py", "bench.py", "tools/validate_oracles.py")

# name -> (unit, better); BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "stored_bytes_per_turn": ("B/turn", "lower"),
}
S, C, MB = ("s", "lower"), ("count", "lower"), ("MB", "lower")
PER_LAYER = {
    "session.start_s": S,
    "pyworker.init_s": S,
    # memory: at the package's default heap the JVM grows to a different
    # size on every run, too unsteady for a bounded end-to-end metric
    "mem.peak_rss_mb": MB,
    "mem.python_rss_mb": MB,
    "hmm.train_s": S,
    "decode.stage_s": S,
    "decode.tokens_per_s": ("1/s", "higher"),
    "decode.python_s": S,
    "decode.arrow_mb_to_py": MB,
    "decode.arrow_mb_from_py": MB,
    "mentions.stage_s": S,
    "mentions.rows": ("count", "higher"),
    "triples.stage_s": S,
    "triples.rows": ("count", "higher"),
    "linking.pairs_scored": C,
    "linking.links": ("count", "higher"),
    "linking.link_yield": ("ratio", "higher"),
    "components.s": S,
    "components.jobs": C,
    "graph.nodes_stage_s": S,
    "graph.edges_stage_s": S,
    "graph.nodes": ("count", "higher"),
    "graph.edges": ("count", "higher"),
    "lineage.commits": C,
    "lineage.commit_s": S,
    "lineage.files_written": C,
    "lineage.mb_written": MB,
    **{f"query.{q}_s": S for q in QUERY_SUITE},
    "driver.jobs": C,
    "driver.tasks": C,
    "driver.gap_s": S,
    "shuffle.write_mb": MB,
    "shuffle.fetch_wait_s": S,
    "spill_mb": MB,
    "incremental.delta_convs": C,
    "incremental.affected_buckets": C,
    "incremental.stages_executed": C,
    "incremental.stages_skipped": ("count", "higher"),
    "incremental.rebalances": C,
    "incremental.state_mb": MB,
    "trace.unattributed_s": S,
    "trace.overhead_ratio": ("ratio", "lower"),
}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# -- memory: summed RSS of this process and all its descendants --

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss pages) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            out[int(name)] = (int(fields[1]), int(fields[21]))
        except (OSError, IndexError, ValueError):
            pass
    return out


def descendants(root: int, table=None) -> dict[int, int]:
    """pid -> rss pages for ``root`` and every process below it."""
    table = table if table is not None else _proc_table()
    kids: dict[int, list] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo += kids.get(pid, [])
    return out


def counted(pid: int) -> bool:
    """The processes whose memory is the system's: the driver (python),
    the JVM and the python workers. A child the JVM has forked but not yet
    exec'd still carries a JVM thread's name and a copy of the JVM's
    resident set; counting it would double the JVM for one sample."""
    comm = _comm(pid)
    return comm == "java" or comm.startswith("python")


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.at_peak: dict = {}
        self.seen: set[int] = set()
        self.halt = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def run(self):
        while not self.halt.is_set():
            procs = descendants(os.getpid())
            self.seen |= set(procs) - {os.getpid()}
            procs = {p: r for p, r in procs.items() if counted(p)}
            total = sum(procs.values()) * self.page
            if total > self.peak:
                self.peak = total
                self.at_peak = {pid: (_comm(pid), rss * self.page / 2**20) for pid, rss in procs.items()}
            self.halt.wait(self.period)

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak / 2**20


# -- run context --

class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.size = args.size
        self.cores = len(os.sched_getaffinity(0))
        self.work_dir = WORK
        self.input_dir = os.path.join(WORK, "inputs")
        self.run_dir = os.path.join(
            WORK, f"run-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        self.jvm_tmp_dir = os.path.join(self.run_dir, "jvm-tmp")
        self.local_dir = os.path.join(self.run_dir, "spark-local")
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        for d in (self.input_dir, self.tmp_dir, self.jvm_tmp_dir, self.local_dir, self.event_dir,
                  os.path.join(WORK, "runs")):
            os.makedirs(d, exist_ok=True)
        self.tracer = None


def host_probes(data_dir: str) -> dict:
    """Host state from ``bench.py``'s own probes (imported, not copied)."""
    import bench

    env = bench._env_forensics(data_dir)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "steal_pct": bench._steal_probe(0.5),
        "cpu_probe_matmul_s": env.get("cpu_probe_matmul_sec"),
        "cpu_mhz_mean": env.get("cpu_mhz_mean"),
        "cgroup_cpu_max": env.get("cgroup_cpu_max"),
        "mem_available": env.get("mem_available"),
    }


def stop_processes(spark, sampler: RssSampler) -> None:
    """Stop Spark, end the JVM and wait for every process this run
    started to be gone."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = {p for p in (set(descendants(os.getpid())) | sampler.seen) if _alive_ours(p)}
        if not left or time.time() > deadline + 10:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.2)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
            return f.read().strip()
    except OSError:
        return "gone"


def _alive_ours(pid: int) -> bool:
    """A live, non-zombie process started by this run (other than itself):
    every such process inherits the PERFBENCH_RUN marker."""
    if pid == os.getpid():
        return False
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
        with open(f"/proc/{pid}/environ", "rb") as f:
            env = f.read()
    except OSError:
        return False
    return state != "Z" and f"PERFBENCH_RUN={os.getpid()}".encode() in env


# -- per-layer metrics from the traced operation --

def layer_metrics(tracer, folded, wl, ctx, op_span, untraced_wall) -> dict:
    sub = [s for s in tracer.spans if s.op == "traced"]
    kids = tracer.children()

    def named(name):
        return [s for s in sub if s.name == name]

    def wall(name):
        return sum(s.wall() for s in named(name))

    def fsum(name, key):
        return sum(folded[s.id].get(key, 0.0) for s in named(name))

    def last(name, key):  # the stage's state after its last commit
        spans = named(name)
        return spans[-1].attrs.get(key, 0) if spans else 0

    op_f = folded[op_span.id]
    commits = [s for s in sub if s.name.startswith("commit:")]
    train = [s for s in tracer.spans if s.name == "setup:hmm.train"] or named("hmm.train_hmm")
    dec_s = wall("stage:decoded")
    pairs, links = tracer.probes["pairs_scored"], tracer.probes["links"]
    res = getattr(wl, "last_result", None)  # IncrementalResult of the traced append
    m = {
        "session.start_s": ctx.session_s,
        "pyworker.init_s": (op_f.get("py_start_ms", 0) + op_f.get("py_init_ms", 0)) / 1e3,
        "hmm.train_s": sum(s.wall() for s in train),
        "decode.stage_s": dec_s,
        "decode.tokens_per_s": wl.tokens / dec_s if res and dec_s else 0.0,
        "decode.python_s": fsum("stage:decoded", "py_run_ms") / 1e3,
        "decode.arrow_mb_to_py": fsum("stage:decoded", "py_bytes_to") / 1e6,
        "decode.arrow_mb_from_py": fsum("stage:decoded", "py_bytes_from") / 1e6,
        "mentions.stage_s": wall("stage:mentions"),
        "mentions.rows": last("commit:mentions", "rows"),
        "triples.stage_s": wall("stage:triples"),
        "triples.rows": last("commit:triples", "rows"),
        "linking.pairs_scored": pairs,
        "linking.links": links,
        "linking.link_yield": links / pairs if pairs else 0.0,
        "components.s": wall("components.connected_components"),
        "components.jobs": fsum("components.connected_components", "jobs"),
        "graph.nodes_stage_s": wall("stage:nodes"),
        "graph.edges_stage_s": wall("stage:edges"),
        "graph.nodes": last("commit:nodes", "rows"),
        "graph.edges": last("commit:edges", "rows"),
        "lineage.commits": len(commits),
        "lineage.commit_s": sum(s.wall() for s in commits),
        "lineage.files_written": sum(s.attrs.get("files", 0) for s in commits),
        "lineage.mb_written": sum(s.attrs.get("bytes", 0) for s in commits) / 1e6,
        **{f"query.{q}_s": wall(f"query:{q}") for q in QUERY_SUITE},
        "driver.jobs": op_f["jobs"],
        "driver.tasks": op_f["tasks"],
        "driver.gap_s": max(0.0, op_span.wall() - op_f["job_busy_s"]),
        "shuffle.write_mb": op_f.get("shuffle_write_bytes", 0) / 1e6,
        "shuffle.fetch_wait_s": op_f.get("fetch_wait_ms", 0) / 1e3,
        "spill_mb": op_f.get("spill_bytes", 0) / 1e6,
        "incremental.delta_convs": res.n_changed if res else 0,
        "incremental.affected_buckets": len(res.affected_buckets) if res else 0,
        "incremental.stages_executed": len(res.executed) if res else 0,
        "incremental.stages_skipped": len(res.skipped) if res else 0,
        "incremental.rebalances": int("auto_rebalance" in res.metrics) if res else 0,
        "incremental.state_mb": wl.stored_bytes() / 1e6 if res else 0,
        "trace.unattributed_s": tracer.self_time(op_span, kids),
        "trace.overhead_ratio": op_span.wall() / untraced_wall,
    }
    return {k: float(v) for k, v in m.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the repository (missing {', '.join(missing)})")
    sys.path.insert(0, ROOT)
    import workloads
    from tracer import Tracer, fold, read_event_log

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    ctx = Ctx(args)
    os.environ.update(
        TMPDIR=ctx.tmp_dir,
        SPARK_LOCAL_DIRS=ctx.local_dir,
        SPARK_GRAFT_CPUS=str(ctx.cores),
        PERFBENCH_RUN=str(os.getpid()),
    )
    import tempfile

    tempfile.tempdir = None
    ctx.tracer = tracer = Tracer()
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.prepare()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "size": args.size, "host": host_probes(getattr(wl, "data_dir", None) or ctx.input_dir)}

    sampler = RssSampler()
    sampler.start()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.jvm_tmp_dir}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        tracer.install()

    t0 = time.perf_counter()
    from hmm_crf_ner_fromscratch_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.session_s = time.perf_counter() - t0
    wl.spark = spark
    wl.setup(tracer)
    setup_s = time.perf_counter() - t0

    walls, attempted, failed = [], 0, 0

    def one(i, traced=False):
        """Run and check one operation; its wall, or None if it raised."""
        nonlocal attempted, failed
        attempted += 1
        tracer.active = traced
        t = time.perf_counter()
        try:
            with tracer.span("op") as span:
                out = wl.op(i)
            wall = time.perf_counter() - t
            tracer.active = False
            ok = wl.check(out)
        except Exception as exc:  # a failed operation is counted, not fatal
            tracer.active = False
            print(f"# {args.workload} op {i} raised {exc!r}", file=sys.stderr)
            failed += 1
            return None, None
        failed += not ok
        return wall, span

    start = time.perf_counter()
    while not walls or time.perf_counter() - start < args.seconds:
        wall, _span = one(len(walls))
        if wall is None:
            break
        walls.append(wall)
    stored = wl.stored_bytes() / wl.stored_rows()

    op_span = None
    if args.trace and walls:
        tracer.sc = spark.sparkContext
        tracer.op = "traced"
        _wall, op_span = one(len(walls), traced=True)

    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    record["versions"] = {"spark": spark.version, "java": java, "python": sys.version.split()[0]}
    stop_processes(spark, sampler)
    peak_mb = sampler.stop()
    by_comm: dict = {}
    for comm, mb in sampler.at_peak.values():
        n, total = by_comm.get(comm, (0, 0.0))
        by_comm[comm] = (n + 1, round(total + mb))
    record["rss_at_peak_mb"] = by_comm  # comm -> (processes, MB)
    record["peak_rss_mb"] = peak_mb

    layer = None
    if op_span is not None:
        folded = fold(tracer, read_event_log(ctx.event_dir))
        layer = layer_metrics(tracer, folded, wl, ctx, op_span, walls[0])
        layer["mem.peak_rss_mb"] = peak_mb
        layer["mem.python_rss_mb"] = sum(
            mb for comm, mb in sampler.at_peak.values() if comm.startswith("python")
        )
        trace_path = os.path.join(WORK, "runs", f"{os.path.basename(ctx.run_dir)}.spans.json")
        tracer.dump(trace_path, folded)
        record["spans_file"] = os.path.relpath(trace_path, ROOT)
        record["traced_op_s"] = op_span.wall()

    record.update(
        setup_s=setup_s,
        session_s=ctx.session_s,
        op_walls_s=walls,
        attempted=attempted,
        failed=failed,
        failed_ratio=failed / max(attempted, 1),
        loadavg_end=list(os.getloadavg()),
        query_s=getattr(wl, "query_s", None),
    )
    if walls:
        p50 = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "stored_bytes_per_turn": stored,
        }
        record["end_to_end"] = metrics
        record["rows_per_s"] = wl.rows / p50
    if layer is not None:
        record["per_layer"] = layer
    with open(os.path.join(WORK, "runs", f"{os.path.basename(ctx.run_dir)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str), file=sys.stderr)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)

    if not walls or (args.trace and layer is None):
        fail("no operation completed", 1)
    if args.trace:
        chosen, spec = layer, PER_LAYER
    else:
        chosen, spec = record["end_to_end"], END_TO_END
    for name, (unit, better) in spec.items():
        print(f"# {name:28s} {chosen[name]:>14.6g} {unit:8s} {better} is better", file=sys.stderr)
    print(f"# failed_ratio {failed}/{attempted}", file=sys.stderr, flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, (u, _b) in spec.items()},
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
