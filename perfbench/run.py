#!/usr/bin/env python3
"""Link-graph benchmark: run one workload for one seed.

    python3 perfbench/run.py --workload repo_pipeline --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --workload delta_refresh --seed 7 --record

Builds the engine and the benchmark from source (build.py), runs the
benchmark JVM, prints every metric with its unit and direction as
BENCHMARK.json declares them, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--record stores the run's reference outputs in expected.json.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EXPECTED = HERE / "expected.json"
TIMEOUT_S = 170

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.exit(f"[perfbench] {msg}")


def java_command(classes, main_args):
    work = build.WORK
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += ["-Xmx3g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    opts += build.jvm_properties()
    cp = f"{classes}:{build.jar_dir()}/*"
    return ["java", *opts, "-cp", cp, "perfbench.Main", "--work-dir", str(work), *main_args]


def run_jvm(cmd):
    """Run the benchmark JVM, echoing its output; return (code, lines)."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGALRM, stop)
    signal.alarm(TIMEOUT_S)
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
        code = proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return code, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    try:
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        classes = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        fail(f"cannot build: {e}")

    if a.self_test:
        code, lines = run_jvm(java_command(classes, ["--self-test"]))
        print("\n".join(lines))
        sys.exit(code)

    names = {w["name"] for w in declared["workloads"]}
    if a.workload not in names:
        fail(f"--workload must be one of {sorted(names)}")
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    expect = expected.get(a.workload, {}).get(str(a.seed), {})
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--expect", ",".join(f"{k}={v}" for k, v in expect.items())]
    if a.record:
        args.append("--record")
    code, lines = run_jvm(java_command(classes, args))
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}")
    result = json.loads(lines[-1])

    # the JVM must report exactly the declared metrics, in their units
    spec = declared["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != units:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(units.items()))}")

    for line in lines[:-1]:
        if not line.startswith("reference "):
            print(line)
    for m in spec:
        v = result["metrics"][m["name"]]["value"]
        better = f"  ({m['better']} is better)" if "better" in m else ""
        print(f"  {m['name']:<40} {v:>16.6g} {m['unit']}{better}")
    att, bad = result["attempted"], result["failed"]
    print(f"  ops attempted {att}, failed {bad}, fail_ratio {bad / att:.4f}")

    if a.record:
        refs = next(json.loads(l[len("reference "):]) for l in lines if l.startswith("reference "))
        expected.setdefault(a.workload, {})[str(a.seed)] = refs
        EXPECTED.write_text(json.dumps(expected, indent=2, sort_keys=True) + "\n")
        print(f"  recorded {len(refs)} expected values for seed {a.seed}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
