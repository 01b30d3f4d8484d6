#!/usr/bin/env python3
"""Benchmark of the graft engine: the reliable enrichment stream and two
batch query sets, run from the root of a checkout.

    python3 perfbench/run.py --workload stream_enrich --seed 1 --seconds 12 --trace 0

Builds the program from source (`build.py`), makes the inputs, runs one
JVM (`perfbench.Main`), checks the outputs outside the timed region and
prints, as the last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` its per-layer metrics (0 where a
layer does not apply to the workload) and writes the spans to
`.bench_build/trace/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stream_enrich", "batch_short", "batch_iterative")
# the batch corpus: a copy of the sf0.01 tables the program's own
# correctness checks run on, and the result fingerprints pinned on it
CORPUS = os.path.join(build.HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(build.HERE, "fingerprints.json")
JVM_TIMEOUT_S = 170


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def metric_specs():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def run_jvm(classes, args, work, log):
    props = [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp",
    ]
    os.makedirs(f"{work}/tmp")
    cmd = build.java_command(classes, "perfbench.Main", args)
    cmd[1:1] = props
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=work)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S}s; log: {log}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {p.returncode}; log tail:\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}", 2)
    end_to_end, per_layer = metric_specs()
    for f in (CORPUS, FINGERPRINTS):
        if not os.path.exists(f):
            fail(f"missing {f}", 2)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    try:
        r = run_jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                              CORPUS, FINGERPRINTS, work], work, log)
        if a.trace:
            tdir = os.path.join(build.BUILD, "trace")
            os.makedirs(tdir, exist_ok=True)
            spans = os.path.join(work, "spans.json")
            doc = {"layers": r["layers"], "notes": r["notes"], "spans": []}
            if os.path.exists(spans):
                with open(spans) as f:
                    doc["spans"] = json.load(f)
            with open(os.path.join(tdir, f"{a.workload}-s{a.seed}.json"), "w") as f:
                json.dump(doc, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for n in r["notes"]:
        print(n, file=sys.stderr)
    if a.trace:
        specs, values = per_layer, r["layers"]
    else:
        specs, values = end_to_end, r["metrics"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in specs}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
