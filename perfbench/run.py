"""graft benchmark: one measured run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Steps: build graft and the harness from source (build.py, cached by
source hash); generate the seeded inputs (gen.py, cached per workload,
seed and size, outside every timing); launch the measured JVM directly
with fixed flags; print its result JSON as the last stdout line.
With --trace 0 the result holds the end-to-end metrics, with --trace 1
the per-layer ones. Each run's full record (flags, nproc, local[N],
every pass time, spans) goes to .bench_build/perfbench/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

# Every run must end within this many seconds of its start (first
# builds excepted); the measured JVM is killed when it would not.
DEADLINE_S = 170
HEAP = "3g"
# The --add-opens list of the root build.sbt (Spark on JDK 17 outside
# spark-submit needs it).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def inputs(workload, seed):
    """Generated inputs for (workload, seed, generator version), made once."""
    key = hashlib.sha256(Path(gen.__file__).read_bytes()).hexdigest()[:12]
    out = build.WORK / "data" / f"{workload}-s{seed}-{key}"
    if not (out / "done").exists():
        shutil.rmtree(out, ignore_errors=True)
        r = subprocess.run([sys.executable, gen.__file__, "--workload", workload,
                            "--seed", str(seed), "--out", str(out)])
        if r.returncode != 0:
            raise SystemExit(f"perfbench: input generation failed (exit {r.returncode})")
    return out


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    data = inputs(a.workload, a.seed)
    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    scratch = build.WORK / "tmp" / run_id
    (scratch / "spark-local").mkdir(parents=True)
    records = build.WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    record = records / f"{run_id}.json"
    log = records / f"{run_id}.log"
    jars = build.spark_jars()
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UsePerfData",  # no hsperfdata file in the system temp directory
             *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             # Spark's status store keeps the last N jobs, stages and SQL
             # executions; a small cap is reached in the first warm-up pass,
             # so held_heap_mb does not grow with the number of timed passes.
             "-Dspark.ui.retainedJobs=100", "-Dspark.ui.retainedStages=100",
             "-Dspark.sql.ui.retainedExecutions=100",
             f"-Dspark.local.dir={scratch / 'spark-local'}", f"-Djava.io.tmpdir={scratch}"]
    cmd = ["java", *flags, "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
           "--workload", a.workload, "--data", str(data), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores),
           "--run-id", run_id, "--out", str(record)]
    budget = DEADLINE_S - (time.monotonic() - t_start)
    # A SIGTERM to this script must not orphan the measured JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as err:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep it in the checkout.
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch / "spark-local"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=max(budget, 30))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded its time budget; log in {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(scratch, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-5000:])
        raise SystemExit(f"perfbench: measured JVM failed (exit {proc.returncode}); log in {log}")
    result = json.loads(lines[-1])
    rec = json.loads(record.read_text())
    rec.update(seed=a.seed, seconds=a.seconds, nproc=nproc, jvm_flags=flags,
               master=f"local[{cores}]", input_dir=str(data),
               sizes={p: gen.SIZES[p] for p in gen.WORKLOADS[a.workload]})
    record.write_text(json.dumps(rec))
    print(json.dumps({k: rec[k] for k in (
        "run_id", "master", "nproc", "jvm_flags", "setup_rounds_s", "warmup_s",
        "jvm_start_to_first_timed_pass_s", "pass_s",
        "traced_pass_s", "pass_wall_with_checks_s", "held_heap_mb_before_pass", "layer_self_s")}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
