"""Benchmark entry point.

    python3 perfbench/run.py --workload dlt_small --seed 1 --seconds 20 --trace 0

Builds the program and the harness (see build.py), runs one workload in
one JVM, checks its outputs, and prints as the last line of standard
output one JSON object with `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the `end_to_end` list of
BENCHMARK.json, with `--trace 1` the `per_layer` list. The full run
record (host context, checks, per-workload aliases) is written to
`.bench_build/records/` and echoed on standard error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
# Wall-clock limit of the benchmark JVM, below the 180 s a run may take.
# A build that the run has to make first is not counted against it.
TIME_LIMIT_S = 170
HEAP = "3g"


def declared(workload: str, trace: bool) -> dict:
    """Metric name -> unit that a run of `workload` must print."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if workload not in [w["name"] for w in spec["workloads"]]:
        raise ValueError(f"unknown workload {workload}")
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def jvm_command(classes: Path, work: Path, args: argparse.Namespace) -> list:
    opens = [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", build.classpath(classes), "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)])


def run_jvm(cmd: list, log: Path, limit: float) -> str:
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"benchmark JVM exceeded {limit:.0f} s")
    if p.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited {p.returncode}:\n" +
                           log.read_text()[-3000:])
    return out


def digest_mismatches(classes: Path, workload: str, seed: int, digests: dict) -> int:
    """Digests that differ from an earlier run of the same build and seed;
    records this run's digests for later runs."""
    path = build.BUILD / "digests" / classes.name / f"{workload}-s{seed}.json"
    old = json.loads(path.read_text()) if path.is_file() else {}
    bad = sum(1 for k, v in digests.items() if old.get(k, v) != v)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({**old, **digests}, indent=1, sort_keys=True))
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        names = declared(args.workload, args.trace == 1)
        classes = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = build.BUILD / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        out = run_jvm(jvm_command(classes, work, args), work / "jvm.log", TIME_LIMIT_S)
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if not lines:
            raise RuntimeError("benchmark JVM printed no result")
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        records = build.BUILD / "records"
        records.mkdir(exist_ok=True)
        (records / f"{tag}.json").write_text(json.dumps(res, indent=1))
        if (work / "spans.jsonl").is_file():
            (build.BUILD / "traces").mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", build.BUILD / "traces" / f"{tag}.jsonl")
    except (RuntimeError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    got = res["metrics"]
    if not set(names) <= set(got):
        print(f"perfbench: no value for {sorted(set(names) - set(got))}", file=sys.stderr)
        return 1
    record = res["record"]
    record.update({k: v for k, v in got.items() if k not in names})
    record["compile_s"] = build.compile_seconds(classes)
    record["digest_mismatches"] = digest_mismatches(classes, args.workload, args.seed,
                                                    record.get("digests", {}))
    failed = min(res["attempted"], res["failed"] + record["digest_mismatches"])
    print("perfbench record " + json.dumps(record), file=sys.stderr)
    line = {
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": got[n], "unit": names[n]} for n in names},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
