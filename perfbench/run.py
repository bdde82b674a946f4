#!/usr/bin/env python3
"""graft benchmark: IO-manager asset months, a 20k-file table log and
pipeline reads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the benchmark
from source (see build.py), runs one workload in a fresh JVM with one
local Spark session, and prints one JSON object as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1,
named and ordered as in BENCHMARK.json, which also gives their units.
Everything it writes stays under .bench_build/ in the checkout; the run's
work directory is removed at exit. Spark's log goes to
.bench_build/perfbench/logs/. See perfbench/DESIGN.json for what each
workload and metric measures.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("asset_daily", "table_metadata", "pipeline_read")
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit; the same list as build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        print("perfbench: run from the root of a graft checkout "
              "(src/main/scala/graft is missing)", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classes = build.build(root)

    out = root / build.BUILD_DIR
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = out / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (out / "logs").mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # no hsperfdata file in /tmp: the run writes only inside the checkout
           + [f"-Xmx{mem}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{classes}:{build.spark_jars(root)}/*",
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--trace-out", str(out / "traces" / f"{tag}.jsonl")])
    log = out / "logs" / f"{tag}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            try:
                stdout, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"perfbench: run exceeded {TIMEOUT_S} s; log in {log}", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: run failed (exit {proc.returncode}); log in {log}", file=sys.stderr)
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        return 4
    with open(log) as f:
        sys.stderr.write("".join(ln for ln in f if ln.startswith("[perfbench]")))
    try:
        result["metrics"] = with_units(result["metrics"], wanted, a.trace)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 5
    print(json.dumps(result))
    return 0


def with_units(values: dict, wanted: list, traced: int) -> dict:
    """The metrics BENCHMARK.json lists, in its order and with its units.
    A per-layer metric of a layer the workload never calls reads 0; an
    end-to-end metric must be measured on every workload."""
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out = {}
    for m in wanted:
        if m["name"] not in values and not traced:
            raise ValueError(f"end-to-end metric {m['name']} was not measured")
        out[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    return out


if __name__ == "__main__":
    sys.exit(main())
