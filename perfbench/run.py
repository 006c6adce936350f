#!/usr/bin/env python3
"""End-to-end CLI benchmark: every repetition is a fresh JVM running the
engine's CLI on seeded inputs, in a closed loop with one client.

    python3 perfbench/run.py --workload diff_lineitem --seed 1 --seconds 40 --trace 0

Run from the repository root. The first run builds the product and the
harness with sbt into `.bench_build/`. `--trace 0` reports the end-to-end
metrics; `--trace 1` makes one traced run (each layer call under a span, a
job-group label and the benchmark's SparkListener) plus one untraced run,
and reports the per-layer metrics. `--workload all` runs every workload.
The last line of standard output is one JSON object; the full record of
the run, spans included, is written under `.bench_build/records/`.
"""
import argparse
import hashlib
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import fixtures  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = ".bench_build"
# every measured JVM gets -Xmx4g instead of the product build's default 16g:
# one invocation peaks at 1.4-1.9 GB RSS, and the host's memory is shared
JVM_HEAP = "4g"
INVOCATION_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SETUP_SAMPLES = 3

WORKLOADS = {
    "diff_lineitem": lambda d, s: fixtures.make_diff_lineitem(d, s, n_rows=300_000),
    "curate_corpus": lambda d, s: fixtures.make_curate_corpus(d, s, n_base=1_000),
}

END_TO_END_UNITS = {"setup_s": "s", "run_wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_fingerprint(root):
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/harness"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and os.path.basename(d) == "project"))
            for name in sorted(files):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
        if os.path.isfile(os.path.join(root, top)):
            with open(os.path.join(root, top), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, bdir):
    """Compile the product and the harness when their sources changed;
    returns the runtime classpath and the product's JVM options."""
    cp_file, opts_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "javaopts.txt")
    fp_file = os.path.join(bdir, "sources.sha256")
    fingerprint = source_fingerprint(root)
    built = read_text(fp_file) == fingerprint and os.path.exists(cp_file)
    if not built:
        harness = os.path.join(root, "perfbench", "harness")
        env = dict(os.environ, SPARK_DRIVER_MEM=JVM_HEAP)
        env.setdefault("COURSIER_MODE", "offline")
        with open(os.path.join(bdir, "build.log"), "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbenchClasspath"],
                               cwd=harness, env=env, stdin=subprocess.DEVNULL, stdout=log,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"build failed, see {BUILD_DIR}/build.log")
        out = os.path.join(harness, "target", "perfbench")
        shutil.copy(os.path.join(out, "javaopts.txt"), opts_file)
        shutil.copy(os.path.join(out, "classpath.txt"), cp_file)
        with open(fp_file, "w") as f:
            f.write(fingerprint)
    return read_text(cp_file).strip(), [ln for ln in read_text(opts_file).splitlines() if ln]


def read_text(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


# ---------------------------------------------------------------- host

def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """(busy, steal) CPU seconds of the whole host so far, from /proc/stat;
    busy includes steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6] + v[7]) / hz, v[7] / hz


def own_cpu_s():
    """CPU seconds used by this process and its reaped children."""
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def commit(root):
    def git(*args):
        return subprocess.run(["git", *args], cwd=root, capture_output=True, text=True)
    top = git("rev-parse", "--show-toplevel")
    if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(root):
        return "unknown"
    dirty = git("status", "--porcelain").stdout.strip()
    return git("rev-parse", "HEAD").stdout.strip() + ("-dirty" if dirty else "")


# ---------------------------------------------------------------- invocation

def launch(ctx, inv, main_class, args):
    """Runs one fresh JVM to completion; returns (launch time, exit code,
    rusage). The ReadyProbe listener stamps when the session has started."""
    os.makedirs(os.path.join(inv, "tmp"))
    cmd = [ctx["java"], *ctx["javaopts"], f"-Djava.io.tmpdir={inv}/tmp",
           "-Dspark.extraListeners=graft.perfbench.ReadyProbe",
           "-cp", ctx["classpath"], "graft.perfbench." + main_class, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=f"{inv}/tmp")
    with open(os.path.join(inv, "stdout"), "w") as out, \
            open(os.path.join(inv, "stderr"), "w") as err:
        start = time.time()
        p = subprocess.Popen(cmd, cwd=inv, env=env, stdin=subprocess.DEVNULL, stdout=out,
                             stderr=err, start_new_session=True)
        timer = threading.Timer(INVOCATION_TIMEOUT_S, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        _, status, ru = os.wait4(p.pid, 0)
        timer.cancel()
        stop_group(p.pid)
        p.returncode = os.waitstatus_to_exitcode(status)
    return start, p.returncode, ru


def stop_group(pgid, timeout_s=10):
    """Kills what is left of a launched process group (a set-up probe halts
    while the CLI may be running git) and waits until it is gone."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.01)


def read_json(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def invoke(ctx, fixture, inv, traced):
    """One fresh-JVM CLI invocation, checked; returns its sample."""
    if fixture.out_path:
        shutil.rmtree(fixture.out_path, ignore_errors=True)
    stamp = os.path.join(inv, "stamps.json")
    start, code, ru = launch(ctx, inv, "Traced" if traced else "Cli",
                             [stamp, *fixture.cli_args])
    sample = {"kind": "invocation", "exit": code, "cpu_s": ru.ru_utime + ru.ru_stime,
              "peak_rss_mb": ru.ru_maxrss / 1024.0, "problems": []}
    st = read_json(stamp)
    if st and start < st["ready"] < st["output"]:
        sample["setup_s"] = st["ready"] - start
        sample["run_wall_s"] = st["output"] - st["ready"]
        if traced:
            sample["trace"] = st
    else:
        sample["problems"].append(f"no valid timing record, see {inv}/stderr")
    with open(os.path.join(inv, "stdout")) as f:
        text = f.read()
    if code != 0:
        sample["problems"].append(f"exit code {code}, see {inv}/stderr")
    elif fixture.kind == "diff":
        sample["problems"] += checks.check_diff(text, fixture.expected)
    else:
        sample["problems"] += checks.check_curate(text, fixture.out_path, fixture.input_ids,
                                                  fixture.expected, ctx["seed"])
        sample["summary"] = text.strip().splitlines()[-1] if text.strip() else ""
    sample["ok"] = not sample["problems"]
    return sample


def setup_probe(ctx, fixture, inv):
    """One set-up of the CLI on the workload's arguments, stopped when its
    session is ready; the sample holds its seconds from JVM launch."""
    stamp = os.path.join(inv, "stamps.json")
    start, code, _ = launch(ctx, inv, "Setup", [stamp, *fixture.cli_args])
    st = read_json(stamp)
    if code == 0 and st and st["ready"] > start:
        return {"kind": "probe", "ok": True, "setup_s": st["ready"] - start, "problems": []}
    return {"kind": "probe", "ok": False,
            "problems": [f"set-up probe failed (exit {code}), see {inv}/stderr"]}


def setup_samples(invocations, probe, wanted):
    """The run's set-up times: those of its good invocations, then one probe
    for each that is missing, `wanted` in all. A failed probe is not retried.
    Returns (set-up times, probe samples)."""
    setups = [s["setup_s"] for s in invocations if s["ok"]]
    probes = [probe() for _ in range(wanted - len(setups))]
    return setups + [p["setup_s"] for p in probes if p["ok"]], probes


# ---------------------------------------------------------------- workload

def run_workload(ctx, name, seed, seconds, trace):
    work = os.path.join(ctx["bdir"], "work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fixture = WORKLOADS[name](os.path.join(work, "inputs"), seed)
    ctx["seed"] = seed
    host = {"nproc": nproc(), "loadavg_start": loadavg(), "commit": ctx["commit"]}
    t0, (busy0, steal0), own0 = time.time(), cpu_times(), own_cpu_s()
    samples, setups = [], []
    counter = itertools.count()

    def inv_dir():
        return os.path.join(work, f"inv{next(counter)}")

    if trace:
        samples.append(invoke(ctx, fixture, inv_dir(), traced=True))
        samples.append(invoke(ctx, fixture, inv_dir(), traced=False))
    else:
        # closed loop, one client: the next invocation starts when the last
        # ends, and none starts that would overrun the measuring window
        while True:
            samples.append(invoke(ctx, fixture, inv_dir(), traced=False))
            elapsed = time.time() - t0
            if elapsed + elapsed / len(samples) > seconds:
                break
        setups, probes = setup_samples(
            samples, lambda: setup_probe(ctx, fixture, inv_dir()), SETUP_SAMPLES)
        samples += probes
    wall = time.time() - t0
    busy1, steal1 = cpu_times()
    host.update(loadavg_end=loadavg(), wall_s=wall, steal_cores=(steal1 - steal0) / wall,
                other_cpu_cores=max(0.0, (busy1 - busy0 - (own_cpu_s() - own0)) / wall))
    failed = sum(1 for s in samples if not s["ok"])
    good = [s for s in samples if s["ok"] and s["kind"] == "invocation"]
    metrics = {}
    if trace:
        if failed == 0:
            metrics = stats.layer_metrics(samples[0]["trace"])
            metrics["jvm.peak_rss_mb"] = samples[0]["peak_rss_mb"]
            metrics["trace.overhead_s"] = metrics["trace.wall_s"] - samples[1]["run_wall_s"]
    elif good:
        run_wall = stats.median([s["run_wall_s"] for s in good])
        metrics = {"setup_s": stats.median(setups),
                   "run_wall_s": run_wall,
                   "rows_per_s": fixture.input_rows / run_wall,
                   "cpu_s": stats.median([s["cpu_s"] for s in good])}
    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
              "input_rows": fixture.input_rows, "expected": fixture.expected,
              "loop": "closed", "clients": 1, "host": host, "metrics": metrics,
              "attempted": len(samples), "failed": failed, "setup_samples": setups,
              "samples": [{k: v for k, v in s.items() if k != "trace"} for s in samples]}
    if trace and "trace" in samples[0]:
        record["trace_data"] = samples[0]["trace"]
        self_s = stats.self_times(record["trace_data"]["spans"])
        for span in record["trace_data"]["spans"]:
            span["self_s"] = self_s[span["id"]]
    rec_dir = os.path.join(ctx["bdir"], "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{name}-seed{seed}-trace{trace}-{int(t0)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    return record


def units(metric):
    if metric in END_TO_END_UNITS:
        return END_TO_END_UNITS[metric]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_rows"):
        return "rows"
    return "count"


def report(rec):
    h = rec["host"]
    print(f"{rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"input_rows={rec['input_rows']} invocations={rec['attempted']} "
          f"loop=closed clients=1")
    for problem in (p for s in rec["samples"] for p in s["problems"]):
        print(f"  FAILED: {problem}")
    for k, v in rec["metrics"].items():
        print(f"  {k:36s} {v:14.4f} {units(k)}")
    print(f"  {'fail_ratio':36s} {rec['failed'] / rec['attempted']:14.4f} fraction")
    print(f"  host: nproc={h['nproc']} loadavg={h['loadavg_start'][0]:.2f}->"
          f"{h['loadavg_end'][0]:.2f} other_cpu_cores={h['other_cpu_cores']:.2f} "
          f"steal_cores={h['steal_cores']:.2f} "
          f"commit={h['commit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for rel in ("build.sbt", "src/main/scala/graft/cli/Main.scala"):
        if not os.path.exists(os.path.join(root, rel)):
            fail(f"{rel} not found: run from the root of a checkout of the repository")
    bdir = os.path.join(root, BUILD_DIR)
    os.makedirs(bdir, exist_ok=True)
    java = shutil.which("java")
    if java is None:
        fail("java not found")
    cp, opts = build(root, bdir)
    ctx = {"bdir": bdir, "classpath": cp, "javaopts": opts, "java": java,
           "commit": commit(root)}
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    recs = [run_workload(ctx, n, args.seed, args.seconds, args.trace) for n in names]
    for rec in recs:
        report(rec)
    metrics = {}
    for rec in recs:
        prefix = "" if len(recs) == 1 else rec["workload"] + "."
        metrics.update({prefix + k: {"value": v, "unit": units(k)}
                        for k, v in rec["metrics"].items()})
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    print(json.dumps({"correct": failed == 0 and all(r["metrics"] for r in recs),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
