#!/usr/bin/env python3
"""One command for the benchmark: build from source, run one workload in
fresh JVMs, check its outputs, print its metrics.

  python3 perfbench/run.py --workload live_sync|stream_fold|query_board \
      --seed N --seconds S --trace 0|1

The last line of standard output is one JSON object:
  {"correct": bool, "attempted": int, "failed": int,
   "metrics": {name: {"value": v, "unit": u}}}
with every end-to-end metric of BENCHMARK.json when --trace 0 and every
per-layer metric when --trace 1. A full record of the run (raw samples,
drift, flags, nproc, source digest) goes to .bench_build/artifacts/.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402
import fixtures  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
NPROC = os.cpu_count() or 1
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(heap, tmp):
    """The fixed JVM command line: the same heap and flags on every commit
    (those build.sbt gives forked JVMs, with a fixed heap), and a private
    temp and Spark local dir."""
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:MaxTenuringThreshold=1",
             "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp] + ADD_OPENS)


def preread(classpath):
    """Read every class file and jar once, so the page cache holds them
    before any set-up clock starts."""
    for entry in classpath.split(os.pathsep):
        paths = glob.glob(entry) if entry.endswith("*") else [entry]
        for top in paths:
            files = [top] if os.path.isfile(top) else (
                os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
            for f in files:
                with open(f, "rb") as fh:
                    while fh.read(1 << 20):
                        pass


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def host_sample():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return steal / os.sysconf("SC_CLK_TCK"), load


class Harness:
    """Runs harness mains in their own process group; kills what is left.
    Every main must end by `deadline` (a time.monotonic() value)."""

    def __init__(self, cp, rundir, deadline):
        self.cp, self.rundir, self.deadline, self.procs = cp, rundir, deadline, []

    def main(self, heap, cls, args, tag):
        tmp = os.path.join(self.rundir, "tmp-" + tag)
        os.makedirs(tmp, exist_ok=True)
        cmd = jvm(heap, tmp) + ["-cp", self.cp, cls] + args
        err = open(os.path.join(self.rundir, tag + ".err"), "w")
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=self.rundir, start_new_session=True)
        self.procs.append(p)
        try:
            out, _ = p.communicate(timeout=max(self.deadline - time.monotonic(), 1))
        finally:
            self.kill(p)
            err.close()
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if p.returncode != 0 or not lines:
            with open(err.name) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{cls} exited {p.returncode} without a result:\n{tail}")
        return json.loads(lines[-1][len("PERFBENCH "):])

    @staticmethod
    def kill(p):
        """Kill the process group (the main and any child it left), then reap."""
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        p.wait()

    def kill_all(self):
        for p in self.procs:
            self.kill(p)


# ---------------------------------------------------------------- workloads

def live_sync(h, a):
    cmd_file = os.path.join(h.rundir, "server.cmd")
    tmp = os.path.join(h.rundir, "tmp-server")
    os.makedirs(tmp, exist_ok=True)
    with open(cmd_file, "w") as f:
        f.write("\n".join(jvm("512m", tmp) + ["-cp", h.cp, "perfbench.LiveServer"]) + "\n")
    r = h.main("512m", "perfbench.LiveSync", [
        f"server_cmd={cmd_file}", f"dir={h.rundir}", f"seed={a.seed}", f"seconds={a.seconds}",
        f"trace={a.trace}"], "loadgen")
    return r, {"setup_s": r["setup_s"], "cpu_ms_per_op": r["server_cpu_ms_per_sync"],
               "retained_heap_mb": r["retained_heap_mb"]}


def stream_fold(h, a):
    # A fixed number of batches, about --seconds of work at 0.6 s a batch.
    r = h.main("2g", "perfbench.StreamFold", [
        f"cpus={NPROC}", f"seed={a.seed}", f"batches={round(a.seconds / 0.6)}", f"trace={a.trace}"], "fold")
    return r, {"setup_s": r["setup_s"], "cpu_ms_per_op": r["engine_cpu_ms_per_sync"],
               "retained_heap_mb": r["retained_heap_mb"]}


def query_board(h, a):
    sf = os.path.join(h.rundir, "sf")
    fixtures.write(sf, a.seed)
    out = os.path.join(h.rundir, "out")
    os.makedirs(out)
    report, done = {}, threading.Event()

    def check():
        # Checks each query's first output against its DuckDB oracle SQL
        # while the JVM warms up; the JVM's timed passes wait for `checked`.
        try:
            while not os.path.exists(os.path.join(out, "dumped")):
                if done.wait(0.05):
                    return
            t0 = time.monotonic()
            report.update(oracle.check(sf, out))
            report["_seconds"] = time.monotonic() - t0
        except Exception as e:  # noqa: BLE001 -- reported as a failed check
            report["_error"] = repr(e)
        finally:
            open(os.path.join(out, "checked"), "w").close()

    checker = threading.Thread(target=check)
    checker.start()
    try:
        # A fixed number of passes of about 2.5 s each: 4 at --seconds 6.
        r = h.main("2g", "perfbench.QueryBoard", [
            f"cpus={NPROC}", f"sf={sf}", f"out={out}", f"passes={max(3, round(a.seconds / 1.5))}",
            f"trace={a.trace}"], "board")
    finally:
        done.set()
        checker.join()
    r["oracle_s"] = report.pop("_seconds", None)
    r["oracle"] = report
    r["attempted"] += len(r["rows"])
    r["failed"] += sum(1 for q in r["rows"] if q not in report or report[q]) + ("_error" in report)
    return r, {"setup_s": r["setup_s"], "cpu_ms_per_op": r["board_cpu_ms"] / len(r["rows"]),
               "retained_heap_mb": r["retained_heap_mb"]}


WORKLOADS = {"live_sync": live_sync, "stream_fold": stream_fold, "query_board": query_board}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, src_digest = build.build()
    preread(cp)
    rundir = os.path.join(build.BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    # A run must end within 180 s; leave room for the checks and cleanup.
    h = Harness(cp, rundir, time.monotonic() + 165)
    steal0, load0 = host_sample()
    t0 = time.time()
    try:
        raw, e2e = WORKLOADS[a.workload](h, a)
    finally:
        h.kill_all()
        shutil.rmtree(rundir, ignore_errors=True)
    steal1, load1 = host_sample()
    host = {"host.steal_s": steal1 - steal0, "host.loadavg": (load0 + load1) / 2}

    if a.trace:
        names = [m["name"] for m in SPEC["per_layer"]]
        values = {n: float(raw.get(n, host.get(n, 0.0))) for n in names}
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    attempted, failed = raw["attempted"], raw["failed"]
    correct = failed == 0
    result = {"correct": correct, "attempted": int(attempted), "failed": int(failed),
              "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}

    art_dir = os.path.join(build.BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
           "source_digest": src_digest, "commit": commit(), "nproc": NPROC, "jvm_flags": jvm("<heap>", "<tmp>"),
           "wall_s": time.time() - t0, "host": host, "end_to_end": e2e, "result": result, "raw": raw}
    untraced = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace and os.path.exists(untraced):
        # Tracing overhead: this traced run's end-to-end figures minus those
        # of the untraced run of the same workload and seed.
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]
        art["trace_overhead"] = {n: {"traced": e2e[n], "untraced": base[n],
                                     "share": (e2e[n] - base[n]) / base[n]} for n in e2e}
        for n, o in art["trace_overhead"].items():
            print(f"{a.workload:12s} trace overhead {n:28s} {o['share']:+.1%}", file=sys.stderr)
    with open(os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(art, f, indent=1)
    for n, m in result["metrics"].items():
        print(f"{a.workload:12s} {n:45s} {m['value']:.6g} {m['unit']}")
    print(f"{a.workload:12s} attempted={attempted} failed={failed} correct={correct}")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    # On SIGTERM, unwind so the finally blocks kill and reap the JVMs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, OSError, KeyError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
