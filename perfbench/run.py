"""graft benchmark: one workload, one fresh JVM, one seed.

    python3 perfbench/run.py --workload mhw_grid --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program from source if needed
(build.py), makes the inputs from the seed, runs the workload in a fresh
JVM (cold pass, then warm passes for --seconds), checks every output
against computations made apart from the program, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the spans go to .bench_build/traces/.

Every run gets its own working directory and scratch root under
.bench_build/runs/, removed when the run ends.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import workloads  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 150

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def host_cpus():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of the host's memory, between 2 and 8 GB."""
    total_kb = 8 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(2048, min(8192, total_kb // 4 // 1024))


def jvm_cmd(classpath, opts, tmpdir):
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp directory; the run writes only
    # inside its own directory
    flags += ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}"]
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{heap_mb()}m", "-XX:ReservedCodeCacheSize=2g", "-XX:+UseCodeCacheFlushing",
              "-XX:+ExplicitGCInvokesConcurrent"]
    return ["java", *flags, "-cp", classpath, "perfbench.PerfBench",
            *[f"{k}={v}" for k, v in opts.items()]]


class Run:
    """One run's private directory tree: inputs, scratch root, working
    directory, outputs and logs."""

    def __init__(self, workload, seed):
        self.dir = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-s{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("scratch", "work", "out"):
            os.makedirs(os.path.join(self.dir, sub))
        self.log = open(os.path.join(self.dir, "jvm.log"), "w")

    def path(self, *p):
        return os.path.join(self.dir, *p)

    def jvm(self, classpath, opts):
        """Start the harness; return (seconds until it reported ready, result)."""
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=self.path("scratch"),
                   SPARK_GRAFT_CPUS=str(host_cpus()))
        t0 = time.time()
        proc = subprocess.Popen(jvm_cmd(classpath, opts, self.path("scratch")),
                                cwd=self.path("work"), env=env,
                                stdout=self.log, stderr=self.log)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S}s")
        if code != 0:
            self.log.flush()
            with open(self.path("jvm.log")) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"harness exited with {code}:\n{tail}")
        with open(opts["result"]) as fh:
            result = json.load(fh)
        return result["ready_ms"] / 1e3 - t0, result

    def close(self):
        self.log.close()
        shutil.rmtree(self.dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--action", choices=("noop", "count"), default="noop",
                    help="count: time with .count() instead of the noop sink, for comparison")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    classpath = build.ensure_built()
    wl = workloads.WORKLOADS[args.workload]
    run = Run(args.workload, args.seed)
    try:
        # set-up: make the inputs, start the JVM and session, resolve the
        # inputs, up to the first timed call
        data = run.path("data")
        t0 = time.time()
        meta = wl.make_inputs(data, args.seed)
        gen_s = time.time() - t0
        opts = wl.jvm_opts(data, meta, args.seed)
        traces = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        opts.update(workload=args.workload, cpus=host_cpus(), seconds=args.seconds,
                    trace=args.trace, action=args.action, out=run.path("out"),
                    result=run.path("result.json"),
                    spans=os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl"))
        ready_s, res = run.jvm(classpath, opts)

        check = wl.check(run.path("out"), data, meta)
        for line in check.notes:
            print(f"[perfbench] {line}", file=sys.stderr)
        print(f"[perfbench] outputs written in {res['outputs_s']:.2f} s", file=sys.stderr)
        passes = [res["cold"]] + res["warm"]
        ops = [o["name"] for o in res["cold"]["ops"]]
        attempted = len(ops) * len(passes)
        failed = sum(1 for p in passes for o in p["ops"]
                     if o["error"] is not None or o["name"] in check.failed_ops)
        for p in passes:
            print(f"[perfbench] {p['kind']}{' traced' if p['traced'] else ''} {p['wall_s']:.2f} s: " +
                  ", ".join(f"{o['name']} {o['wall_s']:.2f}" for o in p["ops"]), file=sys.stderr)
            for o in p["ops"]:
                if o["error"] is not None:
                    print(f"[perfbench] {p['kind']} {o['name']} failed: {o['error']}", file=sys.stderr)
        if args.trace:
            metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
                       for m in bench["per_layer"]}
            # spans that leave an operation's wall time uncovered describe
            # the wrong work: the traced run is not correct
            low = {k: v for k, v in res["coverage"].items() if v > workloads.COVERAGE_TOL}
            if low:
                print(f"[perfbench] span coverage outside ±{workloads.COVERAGE_TOL}: {low}",
                      file=sys.stderr)
                check.correct = False
        else:
            untraced = [p for p in res["warm"] if not p["traced"]]
            per_op = [statistics.median(o["wall_s"] for p in untraced for o in p["ops"]
                                        if o["name"] == n) for n in ops]
            metrics = {
                "setup_s": {"value": gen_s + ready_s, "unit": "s"},
                "cold_s": {"value": res["cold"]["wall_s"], "unit": "s"},
                "warm_s": {"value": statistics.median(p["wall_s"] for p in untraced), "unit": "s"},
                "op_p50_s": {"value": statistics.median(per_op), "unit": "s"},
                "cached_mb": {"value": res["cached_mb"], "unit": "MB"},
            }
        print(json.dumps({"correct": check.correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        run.close()


if __name__ == "__main__":
    main()
