"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload engine_resume_dirty --seed 1 --seconds 20 --trace 0

Each run starts one fresh Spark session at ``local[<cores available>]``
with the program's own session defaults (driver heap included), from one
process, and measures one operation in it: what one invocation of
``run_validation.py`` or ``tools/parse_logs.py`` pays after its session is
up, JIT and codegen warm-up included. Users pay that warm-up on every
invocation, so it is timed, not warmed away. One operation per run keeps
a full measurement (dozens of runs per workload) within an hour on a
4-core host, where set-up and the operation alone take 30-45 s.
``--seconds`` is accepted and recorded but changes nothing, so every run
times the same work.

The operation's output is checked. ``--trace 0`` prints the end-to-end
metrics. ``--trace 1`` follows the measured operation with an untraced warm
one and a replay of the same operation as a sequence of calls to the
layers' public functions, one span (own Spark job group) per call, writes
the spans to ``.perfbench/spans/`` and prints the per-layer table. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the line before it holds the run's details (host, loadavg, walls).

Inputs are generated from the seed in a process of their own and cached
under ``.perfbench/`` at the repository root, keyed by a hash of the code
that writes them and derives their expected output.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import functools  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "log_anomaly_detector_spark")
# keep at most this many cached inputs per workload
CACHE_KEEP = 12
MIB = 1024 * 1024


# workload name -> class in perfbench/workloads.py
WORKLOADS = {
    "engine_resume_dirty": "EngineWorkload",
    "parse_induce": "ParseWorkload",
    "query_suite": "QueryWorkload",
}


def workload_class(name: str):
    from perfbench import workloads

    return getattr(workloads, WORKLOADS[name])


# ---------------------------------------------------------------- host ----


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _commit() -> str | None:
    """HEAD's commit read from .git without running git (the checkout a
    benchmark runs in may not be a repository)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    return None


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry.name))
    return out


def process_tree(root: int) -> list[int]:
    children = _children_map()
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of the process's resident set."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


# ------------------------------------------------------------- session ----


def _prepare_env() -> None:
    """Run at local[<cores>] and keep every scratch file inside WORK."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(app: str):
    from log_anomaly_detector_spark.session import get_spark

    return get_spark(app_name=app)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until every process it
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from log_anomaly_detector_spark.session import quiesce

    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    quiesce(spark)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)
    for p in tree:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


# -------------------------------------------------------------- inputs ----


def input_seed(name: str, seed: int) -> int:
    return seed % workload_class(name).POOL


@functools.cache
def code_digest() -> str:
    """Hash of the code that writes the inputs and derives the expected
    outputs: the benchmark's generator and workloads, and the whole package
    (datagen, storage, golden, the DuckDB oracles, the pipeline that learns
    the warm templates)."""
    files = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "workloads.py")]
    for d, _, names in sorted(os.walk(PACKAGE)):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def input_dir(name: str, seed: int) -> str:
    """Cache directory of the inputs generated from ``seed`` (an input seed,
    see ``input_seed``) by the current code."""
    return os.path.join(WORK, "inputs", code_digest(), f"{name}-s{seed}")


def load_expected(name: str, seed: int) -> dict | None:
    ready = os.path.join(input_dir(name, seed), "ready.json")
    if not os.path.isfile(ready):
        return None
    with open(ready) as f:
        return json.load(f)["expected"]


def prepare_inputs(name: str, seed: int) -> None:
    """Generate the inputs in a process of their own, so the measured
    session starts as cold as a user's: the same seed gives the same files.
    ``ready.json`` records what a correct run must produce from them."""
    root = input_dir(name, seed)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    wl = workload_class(name)(name)
    started = []

    def get_spark():
        if not started:
            started.append(start_session(f"perfbench-prepare-{name}"))
        return started[0]

    try:
        expected = wl.prepare(get_spark, root, seed)
    finally:
        if started:
            stop_session(started[0])
    with open(os.path.join(root, "ready.json"), "w") as f:
        json.dump({"expected": expected}, f)
    base = os.path.dirname(root)
    mine = sorted(
        (os.path.join(base, d) for d in os.listdir(base) if d.startswith(f"{name}-")),
        key=os.path.getmtime, reverse=True,
    )
    for d in mine[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


# ----------------------------------------------------------- operations ----


class OpRunner:
    """Runs and checks operations; counts attempts and failures."""

    def __init__(self, spark, wl, expected):
        self.spark, self.wl, self.expected = spark, wl, expected
        self.attempted = self.failed = 0
        self.out = os.path.join(WORK, "out", wl.name)

    def _checked(self, fn) -> tuple[float | None, int]:
        from perfbench.workloads import fresh_dir, reset_caches

        self.attempted += 1
        fresh_dir(self.out)
        try:
            t = time.perf_counter()
            rows = fn(self.out)
            wall = time.perf_counter() - t
            got = self.wl.check(self.out)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, 0
        finally:
            reset_caches(self.spark)
        if got != self.expected:
            print(f"output check failed: {got} != {self.expected}", file=sys.stderr)
            self.failed += 1
            return None, 0
        return wall, rows

    def op(self) -> tuple[float | None, int]:
        return self._checked(self.wl.op)

    def replay(self, tracer) -> tuple[float | None, int, str]:
        """A traced replay under one root span; returns the root's id."""
        root_ids = []

        def traced(out: str) -> int:
            with tracer.span(f"{self.wl.name}.replay"):
                root_ids.append(tracer.spans[-1]["id"])
                return self.wl.replay(tracer, out)

        wall, rows = self._checked(traced)
        return wall, rows, root_ids[0]


# -------------------------------------------------------------- layers ----

COUNT_UNITS = {"bytes": "bytes", "jobs": "jobs", "tasks": "tasks"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit); BENCHMARK.json lists the same."""
    from perfbench import workloads

    out = []
    classes = [getattr(workloads, c) for c in WORKLOADS.values()]
    for cls in classes:
        for layer, kinds in cls.LAYERS:
            out.append((f"{layer}.s", "s"))
            out += [(f"{layer}.{k}", COUNT_UNITS.get(k, "count")) for k in kinds]
    out += [
        ("session.setup_s", "s"),
        ("session.peak_rss_mib", "MiB"),
        ("rules.token_equality.first_mismatch.useful_ratio", "ratio"),
        ("trace.overhead_s", "s"),
    ]
    for cls in classes:
        out += [
            (f"{cls.OP_METRIC}.s", "s"),
            (f"{cls.PREFIX}.replay.s", "s"),
            (f"{cls.PREFIX}.layer_coverage", "ratio"),
        ]
    return out


def layer_metrics(wl, tracer, root: str, replay: float, untraced: float) -> dict[str, float]:
    """The replay's per-layer self-times and counts, plus:

    * ``<op>.s`` — the untraced warm operation's wall;
    * ``<prefix>.layer_coverage`` — layer self-times over the replay wall;
    * ``trace.overhead_s`` — traced replay wall minus untraced wall. It holds
      the spans' own cost and the replay's counting actions, and on the
      engine also the stats/violations overlap the sequential replay gives
      up, so it bounds each of these from above and measures none alone.
      The replay runs after the untraced operation, so the JVM's warm-up
      trend can make it negative."""
    # every run prints every per-layer metric; layers this workload does not
    # run did no work and read 0
    values = {name: 0.0 for name, _ in per_layer_names()}
    self_times, counts = tracer.self_times(root), tracer.counts(root)
    for layer, kinds in wl.LAYERS:
        values[f"{layer}.s"] = self_times.get(layer, 0.0)
        for k in kinds:
            values[f"{layer}.{k}"] = counts.get(layer, {}).get(k, 0)
    covered = sum(v for k, v in self_times.items() if not k.endswith(".replay"))
    values[f"{wl.PREFIX}.replay.s"] = replay
    values[f"{wl.PREFIX}.layer_coverage"] = covered / replay
    values[f"{wl.OP_METRIC}.s"] = untraced
    values["trace.overhead_s"] = replay - untraced
    cand = values["rules.token_equality.first_mismatch.rows"]
    if cand:
        values["rules.token_equality.first_mismatch.useful_ratio"] = (
            values["rules.token_equality.first_mismatch.confirmed"] / cand
        )
    return values


def print_layer_table(values: dict[str, float], replay: float) -> None:
    print(f"{'layer metric':<60} {'value':>14} {'share':>7}")
    for name, unit in per_layer_names():
        v = values[name]
        if v == 0:
            continue
        share = f"{v / replay:7.1%}" if unit == "s" and name.count(".") > 1 and replay else ""
        print(f"{name:<60} {v:>14.4f} {share:>7}  {unit}")


# ---------------------------------------------------------------- main ----


def run(name: str, seed: int, seconds: float, trace: bool, t_prep: float) -> dict:
    """One measured run; ``seed`` is the workload seed, inputs come from
    ``input_seed(name, seed)``."""
    from perfbench.spans import Tracer

    iseed = input_seed(name, seed)
    load_before = _loadavg()
    wl = workload_class(name)(name)
    spark = start_session(f"perfbench-{name}")
    wl.register(spark, input_dir(name, iseed), iseed)
    # process start to session up and inputs registered, input generation
    # (a separate process, run only when the inputs are not cached) excluded
    setup = time.time() - T_START - t_prep
    jvm = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    driver = {
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "jvm_max_heap_mib": round(jvm.maxMemory() / MIB, 1),
        "master": spark.sparkContext.master,
    }

    loop = OpRunner(spark, wl, load_expected(name, iseed))
    wall, rows = loop.op()
    warm = replay = None
    if trace and wall is not None:
        tracer = Tracer(spark, uuid.uuid4().hex[:8])
        warm, _ = loop.op()
        replay, _, root = loop.replay(tracer)
    # the kernel's per-process high-water marks, summed over the driver, the
    # JVM and the Python workers (which live until the session stops)
    peak = sum(_peak_rss_bytes(p) for p in process_tree(os.getpid()))
    stop_session(spark)

    detail = {
        "workload": name, "why": wl.WHY, "seed": seed, "input_seed": iseed,
        "inputs": os.path.relpath(input_dir(name, iseed), ROOT),
        "seconds": seconds, "trace": int(trace), "closed_loop_callers": 1,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": load_before, "loadavg_after": _loadavg(),
            "python": platform.python_version(),
            "spark": __import__("pyspark").__version__,
            "commit": _commit(), **driver,
        },
        "input_generation_s": t_prep, "setup_s": setup, "cold_wall_s": wall,
        "warm_wall_s": warm, "replay_wall_s": replay, "rows": rows,
        "peak_rss_mib": peak / MIB, "expected": loop.expected,
    }
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted, "failed": loop.failed, "metrics": {},
    }
    if trace and warm is not None and replay is not None:
        values = layer_metrics(wl, tracer, root, replay, warm)
        values["session.setup_s"] = setup
        values["session.peak_rss_mib"] = peak / MIB
        spans_path = os.path.join(WORK, "spans", f"{name}-s{seed}-{tracer.run_id}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.write(spans_path)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        print_layer_table(values, replay)
        units = dict(per_layer_names())
        result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    elif not trace and wall is not None:
        result["metrics"] = {
            "setup_s": {"value": setup, "unit": "s"},
            "cold_wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": rows / wall, "unit": "rows/s"},
        }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{name}-s{seed}-t{int(trace)}.json")
    with open(path, "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0,
                    help="recorded only: a run always measures one operation")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isdir(PACKAGE):
        print(f"no program to benchmark: {PACKAGE} is missing", file=sys.stderr)
        return 2
    if sys.path[0] == HERE:
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    _prepare_env()
    iseed = input_seed(args.workload, args.seed)
    if args.prepare:
        prepare_inputs(args.workload, iseed)
        return 0
    t_prep = 0.0
    if load_expected(args.workload, iseed) is None:
        t = time.time()
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--prepare",
             "--workload", args.workload, "--seed", str(iseed)],
            check=True, timeout=150, stdout=sys.stderr,
        )
        t_prep = time.time() - t
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), t_prep)
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
