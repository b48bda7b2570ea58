#!/usr/bin/env python3
"""Repository benchmark: the paper's ETL pipelines, a full-materialization
query mix and a warehouse DML stream, run against the library's public
entry points.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --smoke

Each run builds the library and the benchmark (once per source tree),
generates its inputs from the seed, runs one benchmark JVM, checks every
output and prints one JSON result object as its last line:
end-to-end metrics under --trace 0, per-layer metrics under --trace 1.
See perfbench/README.md for workloads, metrics and settings.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_pipelines", "query_mix", "warehouse_dml")
SF = 0.01
SMOKE_SF = 0.001
HEAP = "4g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(root, classes, workload, seed, seconds, trace, sf=SF, corrupt=False,
            deadline=None):
    """One benchmark JVM over freshly generated inputs. Returns the JVM
    record (result.json) with oracle failures of `query_mix` folded in."""
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time() * 1000)}"
    work = os.path.join(root, ".bench_work", tag)
    data = os.path.join(work, "data")
    jwork = os.path.join(work, "jvm")
    tmp = os.path.join(work, "tmp")
    for d in (data, jwork, tmp):
        os.makedirs(d)
    try:
        gen.generate(data, sf, seed)
        # C1 only: Spark's C2 compiles never settle within a run (9-13 s of
        # compiler CPU per 10 s timed pass on 4 cores), and when the host
        # is busy they take the cores the tasks need. The code cache is
        # set to the tiered default, since C1-only would shrink it to 48 MB
        # and flush and recompile Spark's code mid-pass.
        cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
               "-XX:-UseDynamicNumberOfCompilerThreads",
               "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
               f"-Dderby.system.home={tmp}", f"-Dspark.local.dir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                                        os.path.join(build.SPARK_JARS, "*")]),
                "perfbench.Main", "--workload", workload, "--data", data, "--work", jwork,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
                "--corrupt", str(int(corrupt)), "--sf", str(sf)]
        limit = max(10.0, (deadline or time.time() + RUN_LIMIT_S) - time.time())
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                      timeout=limit)
                code = proc.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        res_file = os.path.join(jwork, "result.json")
        if code != 0 or not os.path.isfile(res_file):
            out = os.path.join(root, ".bench_out")
            os.makedirs(out, exist_ok=True)
            kept = os.path.join(out, f"jvm-{tag}.log")
            shutil.copyfile(os.path.join(work, "jvm.log"), kept)
            lines = [ln for ln in open(kept) if not ln.lstrip().startswith(("at ", "..."))]
            raise RuntimeError(f"benchmark JVM exited with {code} (log: {kept}):\n"
                               + "".join(lines[-40:]))
        rec = json.load(open(res_file))
        if workload == "query_mix":
            import oracle  # needs the repository's scripts/check_oracle.py
            for name, problem in oracle.compare(data, jwork, corrupt).items():
                if problem:
                    rec["failed"] += 1
                    rec["failures"].append(f"oracle {name}: {problem}")
            rec["metrics"]["failed_ops_ratio"]["value"] = rec["failed"] / rec["attempted"]
        spans = os.path.join(jwork, "spans.jsonl")
        if os.path.isfile(spans):
            out = os.path.join(root, ".bench_out")
            os.makedirs(out, exist_ok=True)
            rec["span_file"] = os.path.join(".bench_out", f"spans-{workload}-s{seed}.jsonl")
            shutil.copyfile(spans, os.path.join(root, rec["span_file"]))
        return rec
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(spec, rec, trace):
    """The result object printed as the last line: exactly the BENCHMARK.json metric
    set of the run's mode. A per-layer metric a workload does not touch
    (the extract counters outside `etl_pipelines`, say) reads 0."""
    got = rec["metrics"]
    metrics = {}
    missing = []
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif trace:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    correct = rec["failed"] == 0 and not missing
    return {"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
            "metrics": metrics}, missing


def smoke(root, spec, classes):
    """Every named metric is emitted with its unit, and a corrupted
    expected value is reported as a failed operation, on every workload."""
    emitted = {}
    problems = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            rec = run_jvm(root, classes, wl, 1, 1, trace, sf=SMOKE_SF)
            if rec["failed"]:
                problems.append(f"{wl} trace={trace}: clean run failed: {rec['failures'][:3]}")
            for name, m in rec["metrics"].items():
                emitted.setdefault(name, set()).add(m["unit"])
            print(f"smoke {wl} trace={trace}: {len(rec['metrics'])} metrics, "
                  f"failed={rec['failed']}/{rec['attempted']}")
        rec = run_jvm(root, classes, wl, 1, 1, 0, sf=SMOKE_SF, corrupt=True)
        line, _ = result_line(spec, rec, False)
        print(f"smoke {wl} corrupted: failed={rec['failed']} correct={line['correct']}")
        if rec["failed"] < 1 or line["correct"]:
            problems.append(f"{wl}: a corrupted expected value was not reported as failed")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["unit"] not in emitted.get(m["name"], set()):
            problems.append(f"metric {m['name']} [{m['unit']}] never emitted")
    for p in problems:
        print("SMOKE FAIL", p)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    spec_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("run from the repository root (BENCHMARK.json not found)")
    spec = json.load(open(spec_file))
    try:
        classes = build.ensure_built(root)
    except Exception as e:  # no sources, no toolchain or a compile error: no result
        fail(f"build failed: {e}")
    if args.smoke:
        sys.exit(smoke(root, spec, classes))
    if not args.workload:
        fail("--workload is required")
    try:
        rec = run_jvm(root, classes, args.workload, args.seed, args.seconds, args.trace,
                      deadline=time.time() + RUN_LIMIT_S)
    except Exception as e:
        fail(str(e), 3)
    for name, m in rec["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    for ps in rec["passes"]:
        print(f"pass {ps['pass']}{' traced' if ps['traced'] else ''}: wall {ps['wall_s']:.3f} s, "
              f"cpu {ps['cpu_s']:.2f} s, jit cpu {ps['jit_cpu_s']:.2f} s")
    by_op = {}
    for pass_no, name, _kind, wall, _ok in rec["ops"]:
        by_op.setdefault(name, []).append((pass_no, wall))
    for name, walls in by_op.items():
        cold = [w for p, w in walls if p == 0]
        warm = sorted(w for p, w in walls if p > 0)
        print(f"op {name}: first-pass {sum(cold):.3f} s, timed median "
              f"{warm[len(warm) // 2] if warm else 0:.3f} s over {len(warm)}")
    for k, v in rec["info"].items():
        print(f"info {k}: {v}")
    if "span_file" in rec:
        print(f"info spans: {rec['span_file']}")
    for f in rec["failures"]:
        print(f"FAILED {f}")
    line, missing = result_line(spec, rec, args.trace)
    for name in missing:
        print(f"FAILED metric {name} was not emitted")
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
