"""graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), then runs
the workload in one local[4] JVM (graft.perfbench.Main): one caller, one
operation at a time. Prints the seed, the box and every metric by name and
unit, and as its last line one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones of BENCHMARK.json; with --trace 1 the per-layer ones (the
full span table is printed above the JSON line).

Everything it writes goes under the build directory ($CARGO_TARGET_DIR, or
.bench_build at the repository root); the run's work dir is deleted on exit.
"""

import argparse
import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def box():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    now = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    return f"cpus={os.cpu_count()} ram_gib={mem_kb / 2**20:.1f} date={now}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not build_dir.is_absolute():
        build_dir = ROOT / build_dir
    classes = build.build(build_dir)

    work = build_dir / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{build.classpath()}",
            "graft.perfbench.Main", a.workload, str(a.seed), str(a.seconds), a.trace,
            str(work / "run")])
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} {box()}")
    sys.stdout.flush()
    log = work / "jvm.log"
    proc = None

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                    text=True)
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        result = None
        for line in out.splitlines():
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line)
        if proc.returncode != 0 or result is None:
            sys.stderr.write(log.read_text()[-4000:])
            raise SystemExit(f"harness exited with code {proc.returncode}")
        for line in log.read_text().splitlines():
            if line.startswith("operation ") and " failed: " in line:
                sys.stderr.write(line + "\n")
        got = result["metrics"]
        metrics = {}
        for m in wanted:
            v = got.get(m["name"], {}).get("value")
            if v is None:
                raise SystemExit(f"harness did not measure {m['name']}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        for name, v in got.items():
            val = "null" if v["value"] is None else f"{v['value']:.6f}"
            print(f"{name:42s} {val:>18s} {v['unit']}")
        rate = result["failed"] / result["attempted"]
        print(f"{'fail_rate':42s} {rate:>18.6f} ratio "
              f"({result['failed']} of {result['attempted']} operations)")
        print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
