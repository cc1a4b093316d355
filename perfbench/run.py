#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload pipeline-sf0.1 --seed 3 \\
        --seconds 5 --trace 0

Run from the repository root. It builds the repository's main sources and
the harness (`build.py`), generates the seeded inputs (`fixtures.py`; the
pipeline's lake is written by the harness's untimed stage mode), runs
the workload in one JVM on `local[<cores>]` with the job mains' session
(`harness/Harness.scala`), checks every output against its DuckDB oracle
(`oracle.py`), and prints every metric of BENCHMARK.json by name and unit:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
The last stdout line is one JSON object (`correct`, `attempted`, `failed`,
`metrics`); a readable report goes to stderr. Any oracle mismatch or
failed iteration makes the exit code 1.

Workloads (see NOTES.md for why each exists):
  pipeline-sf0.1     Pipeline.runArgs on the 100K-event lake, 3 marts written
  dedup-chain-sf0.1  catalog q76 on 5K documents, noop sink
  pipeline-sf1       the pipeline on 10 id-offset replicas (1M events);
                     not in BENCHMARK.json: an iteration takes about 30 s
                     on 4 cores and a run about 4 minutes, more than the
                     180 s a gated run may take
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout but .bench_build

import build  # noqa: E402
import fixtures  # noqa: E402
import oracle  # noqa: E402

# iteration_s: a timed iteration's wall on 4 cores, rounded. `--seconds`
# buys round(seconds / iteration_s) timed iterations, at least one; the
# count never depends on how fast the iterations actually run. timeout:
# the whole run after the build, input staging included.
WORKLOADS = {
    "pipeline-sf0.1": dict(kind="pipeline", replicas=1, heap="3g",
                           iteration_s=9, timeout=170),
    "dedup-chain-sf0.1": dict(kind="dedup", replicas=1, heap="3g",
                              iteration_s=9, timeout=170),
    "pipeline-sf1": dict(kind="pipeline", replicas=10, heap="6g",
                         iteration_s=32, timeout=1800),
}
# untimed warm-up iterations: in a fresh JVM the iterations keep speeding
# up for four or five (JIT, codegen: pipeline 17, 9.0, 7.5, 6.9, 6.5 s and
# dedup chain 16, 9.9, 9.2, 7.4 s on 4 cores). A fixed count of warm-up
# and timed iterations keeps every sample at the same place on that slope
# in every run; more warm-up would not fit the benchmark's time budget of
# about a minute per run. The last warm-up iteration also writes the dedup
# chain's outputs for the oracle check.
WARMUP = 2

# what the JVM needs outside spark-submit (build.sbt's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def percentile_note(walls):
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(walls)
    if n <= 10:
        return None
    p = int(100 * (1 - 10 / n))
    s = sorted(walls)
    return p, s[min(n - 1, int(n * p / 100))]


def run_jvm(cp, heap, args, run_dir, cores, deadline):
    """Run the harness main in its own JVM; its exit code, or None when it
    is still running at `deadline` (a time.monotonic() value)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd += [f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", cp, "graftbench.Harness"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    env.pop("MASTER", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] (default: this process's CPU count)")
    a = ap.parse_args()

    repo = os.getcwd()
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = WORKLOADS[a.workload]
    build_root = os.path.join(repo, ".bench_build")
    cp = build.build(repo, build_root)
    deadline = time.monotonic() + spec["timeout"]
    run_dir = os.path.join(build_root, "runs", a.workload)

    def stage(fixture_dir):
        """Untimed: the harness's stage mode writes the lake."""
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        code = run_jvm(cp, spec["heap"], ["workload=stage",
                       f"fixture={fixture_dir}"], run_dir, a.cores, deadline)
        if code != 0:
            raise SystemExit("perfbench: staging the lake failed; log: "
                             + os.path.join(run_dir, "jvm.log"))

    # inputs are cached per build: the lake is staged by the built code
    fixture, man = fixtures.ensure(
        os.path.join(build_root, "fixtures",
                     os.path.basename(cp.split(os.pathsep)[0])),
        spec["replicas"], a.seed,
        stage=stage if spec["kind"] == "pipeline" else None,
        with_docs=spec["kind"] == "dedup")

    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    timed = max(1, round(a.seconds / spec["iteration_s"]))
    code = run_jvm(cp, spec["heap"], [
        f"workload={spec['kind']}", f"fixture={fixture}", f"run={run_dir}",
        f"timed={timed}", f"warmup={WARMUP}", f"trace={a.trace}"],
        run_dir, a.cores, deadline)
    report_path = os.path.join(run_dir, "report.json")
    if code != 0 or not os.path.exists(report_path):
        how = "timed out" if code is None else f"exited {code}"
        print(f"perfbench: harness JVM {how}; log: "
              + os.path.join(run_dir, "jvm.log"), file=sys.stderr)
        return 1
    with open(report_path) as f:
        rep = json.load(f)
    if not rep["walls"]:
        print("perfbench: no timed iteration completed; log: "
              + os.path.join(run_dir, "jvm.log"), file=sys.stderr)
        return 1

    exact, lines = oracle.check(fixture, os.path.join(run_dir, "check"))
    walls = rep["walls"]
    rows = man["events_rows"] if spec["kind"] == "pipeline" \
        else man["documents_rows"]
    e2e = {
        "wall_s": rep["wall_s"],
        "input_rows_per_s": rows / rep["wall_s"],
        "cpu_s": rep["cpu_s"],
        "setup_s": rep["setup_s"],
        "peak_rss_mb": rep["peak_rss_mb"],
    }
    attempted, failed = rep["attempted"], rep["failed"]
    oracle_exact = sum(exact.values()) / max(1, len(exact))
    correct = bool(exact) and oracle_exact == 1.0 and failed == 0

    err = sys.stderr
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"local[{rep['cores']}] closed loop, 1 client", file=err)
    print(f"  inputs: {man}", file=err)
    print(f"  timed iterations: {len(walls)} walls="
          f"{[round(w, 3) for w in walls]}", file=err)
    pct = percentile_note(walls)
    if pct:
        print(f"  wall_s p{pct[0]}: {pct[1]:.3f} s", file=err)
    print(f"  error_rate: {failed}/{attempted} = "
          f"{failed / max(1, attempted):.3f}", file=err)
    print(f"  oracle_exact: {oracle_exact:.3f}", file=err)
    for line in lines:
        print(f"    {line}", file=err)

    if a.trace:
        values, section = rep["per_layer"], bench["per_layer"]
    else:
        values, section = e2e, bench["end_to_end"]
    metrics = {}
    for m in section:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"  {m['name']:40s} {values[m['name']]:>16.6g} {m['unit']}",
              file=err)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
