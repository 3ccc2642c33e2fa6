"""Benchmark entry point.

    python3 perfbench/run.py --workload counts_fanout --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, measured with
tracing off; with --trace 1 they are the per-layer metrics from a traced
run, and the full span record is written under .perfbench/out/.

The parent process (this one, no Spark) generates the seeded inputs and
their oracle, then starts one fresh driver process that sets up (process
start -> end of its warm-up) and runs the timed window. setup_s is that
set-up time. See README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CHILD_TIMEOUT_S = 170
EXIT_NO_PROGRAM = 2
EXIT_CRASH = 3


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe_mops(seconds: float = 0.2) -> float:
    """Short single-thread CPU probe (million loop steps per second), kept
    as context for a run; it excludes nothing."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(10_000):
            n += 1
    return n / (time.perf_counter() - t0) / 1e6


def child_env(cfg: dict, work: str) -> dict:
    """The pinned environment of a measured driver process: every core,
    local[cores] master, the default (native) parse engine, and all
    scratch space inside the checkout."""
    env = dict(os.environ)
    for k in cfg["env_cleared"]:
        env.pop(k, None)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env.update(cfg["env_pinned"])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p])
    return env


def run_child(args: list[str], env: dict, timeout: float) -> tuple[float, dict | None]:
    """Start a driver process in its own session, wait for it, make sure
    nothing it started outlives it, and return (spawn time, its result)."""
    out = args[args.index("--out") + 1]
    t_spawn = time.time()
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "run.py"), *args],
                            env=env, start_new_session=True, stdout=sys.stderr)
    try:
        proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        print(f"driver process timed out after {timeout:.0f} s", file=sys.stderr)
    finally:
        _reap_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        return t_spawn, None
    return t_spawn, load_json(out)


def _reap_group(proc: subprocess.Popen) -> None:
    """Stop the process and everything left in its process group (the JVM
    and Python workers it launched), waiting until they are gone."""
    for sig, grace in ((None, 20.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        t_end = time.time() + grace
        while time.time() < t_end:
            if proc.poll() is None:
                try:
                    proc.wait(timeout=0.2)
                except subprocess.TimeoutExpired:
                    continue
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def generate_inputs(workload, seed: int, cfg: dict, seconds: int):
    """Seeded inputs, cached by everything they depend on."""
    import hashlib

    import gen

    wcfg = cfg["workloads"][workload.name]
    digest = hashlib.sha1(json.dumps([wcfg, seconds], sort_keys=True).encode()).hexdigest()[:10]
    key = f"{workload.name}-s{seed}-{digest}-v{gen.GEN_VERSION}"
    return gen.cached(os.path.join(STATE, "cache"), key,
                      lambda root: workload.generate(root, seed, wcfg, seconds))


def parent(a: argparse.Namespace) -> int:
    sys.path[:0] = [ROOT, HERE]
    try:
        import bocadillo_spark  # noqa: F401  (the program under test must be present)
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}", file=sys.stderr)
        return EXIT_NO_PROGRAM
    import workloads

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    cfg = load_json(os.path.join(HERE, "config.json"))
    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return EXIT_CRASH
    workload = workloads.WORKLOADS[a.workload]()
    t_start = time.time()
    probe = cpu_probe_mops()
    inputs, gen_s = generate_inputs(workload, a.seed, cfg, a.seconds)

    work = os.path.join(STATE, "work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(work, "result.json")
    args = ["--role", "driver", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs.root, "--work", work, "--out", out]
    try:
        t_spawn, result = run_child(args, child_env(cfg, work), CHILD_TIMEOUT_S - (time.time() - t_start))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print("perfbench: the driver process failed", file=sys.stderr)
        return EXIT_CRASH
    setup_s = result["setup_done"] - t_spawn
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores(), "cpu_probe_mops": round(probe, 2), "input_gen_s": round(gen_s, 3),
        "env_recorded": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        **result["context"],
    }
    metrics = dict(result["metrics"])
    if not a.trace:
        metrics["setup_s"] = setup_s
    section = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[section]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return EXIT_CRASH
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    record = os.path.join(STATE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(record, "w") as f:
        json.dump({"context": context, "metrics": metrics, **result.get("record", {})},
                  f, indent=1, sort_keys=True)
    print("context " + json.dumps(context, sort_keys=True))
    print(f"record {os.path.relpath(record, ROOT)}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


# ------------------------------------------------------------ driver side


def peak_rss_mb(root_pid: int) -> float:
    """Peak RSS (VmHWM) of a process plus all its live descendants, in MB."""
    parent_of = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent_of[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def start_spark(work: str):
    from bocadillo_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # initial heap = max heap (SPARK_GRAFT_DRIVER_MEM): peak RSS then follows
    # the work done rather than G1's run-to-run heap-growth decisions
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    spark = get_spark(app_name="perfbench", cores=cores(), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def driver(a: argparse.Namespace) -> int:
    import derive
    import gen
    import workloads

    cfg = load_json(os.path.join(HERE, "config.json"))
    inputs = gen.Inputs(a.inputs, load_json(os.path.join(a.inputs, "_meta.json")))
    workload = workloads.WORKLOADS[a.workload]()
    t0 = time.time()
    spark = start_spark(a.work)
    phases = {"session_s": time.time() - t0}
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        ctx = workloads.Ctx(spark, inputs, cfg["workloads"][a.workload], a.work, cores())
        workload.warmup(ctx)
        res: dict = {"setup_done": time.time(), "context": {}}
        phases["warmup_s"] = res["setup_done"] - t0 - phases["session_s"]
        if not a.trace:
            steal0 = cpu_steal()
            w = workload.window(ctx, a.seconds)
            steal1 = cpu_steal()
            lat = w.latencies
            tail = derive.tail(lat) if lat else {"value": 0.0}
            res["metrics"] = {
                "docs_per_s": w.docs_per_s,
                "freshness_p50_s": derive.median(lat) if lat else 0.0,
                "freshness_tail_s": tail["value"],
                "peak_rss_mb": peak_rss_mb(jvm_pid),
            }
            attempted, failed = derive.count_failed(o.ok for o in w.outcomes)
            # the share of CPU time the hypervisor gave to other guests
            # during the window: context for a slow run, it excludes nothing
            res["context"] = {"freshness_tail": tail, **w.context,
                              "window_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}
            res["record"] = {"outcomes": [o.__dict__ for o in w.outcomes]}
            res.update(correct=failed == 0, attempted=attempted, failed=failed)
        else:
            import layers

            bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
            res.update(layers.traced_run(ctx, workload, a.seconds, bench))
        phases["measure_s"] = time.time() - res["setup_done"]
    finally:
        t_stop = time.time()
        stop_spark(spark)
        phases["stop_s"] = time.time() - t_stop
    res["context"]["phases_s"] = {k: round(v, 3) for k, v in phases.items()}
    with open(a.out, "w") as f:
        json.dump(res, f, default=str)
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--role", choices=("parent", "driver"), default="parent")
    p.add_argument("--inputs")
    p.add_argument("--work")
    p.add_argument("--out")
    a = p.parse_args()
    if a.role == "parent":
        return parent(a)
    return driver(a)


if __name__ == "__main__":
    sys.exit(main())
