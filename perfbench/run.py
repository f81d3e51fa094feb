"""The repo benchmark: one named workload against the graft engine.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 12 --trace 0

Builds the engine from source (perfbench/build.py), makes the forecast
panels from --seed (perfbench/panels.py, cached under .bench_build/), and
runs the harness JVM: one closed-loop client against local[4]. The query
workloads read perfbench/data/sf0.01, a byte-for-byte copy of the engine's
seed-42 sf0.01 star-schema fixtures (TESTDATA.md, FIXTURES.md), kept here
so the benchmark reads nothing outside its checkout. The seed permutes the
call order of every pass after the cold one, which keeps the listed order.
With --trace 0 the last stdout line holds the end-to-end
metrics; with --trace 1 the listeners are attached and it holds the
per-layer metrics instead. The line before it records the run's ambient
conditions. Full results, the span trace and the counter stability report
land in .bench_build/runs/.

Workloads, their ids and parameters, what was left out and which layer
should move which end-to-end metric are in perfbench/workloads.json; the
numbers of record are in perfbench/baseline.json.

    --record   write perfbench/expected/<workload>.tsv from this run's
               digests (only on an unchanged engine commit)
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import panels  # noqa: E402

JVM_TIMEOUT_S = 170
SF_DIR = os.path.join(HERE, "data", "sf0.01")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def source_tag(module):
    """Short hash of a generator's source, so a changed generator makes new inputs."""
    with open(module.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cached(path, make):
    """Creates `path` once with make(tmp_path); later runs reuse it."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    wl = spec["workloads"][a.workload]
    build_dir = os.path.join(ROOT, ".bench_build")
    classes = build.ensure(build_dir)

    data = os.path.join(build_dir, "data")
    runs = os.path.join(build_dir, "runs")
    scratch = os.path.join(build_dir, "scratch")
    for d in (data, runs, scratch, os.path.join(scratch, "tmp")):
        os.makedirs(d, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
           "scratch": scratch, "sf_dir": SF_DIR,
           "out": os.path.join(runs, f"{tag}.json"), "spans": os.path.join(runs, f"{tag}.spans.jsonl")}
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    if wl["kind"] == "queries":
        cfg.update(kind="queries", ids=",".join(wl["ids"]),
                   expected="" if a.record else expected)
    else:
        p = wl["panels"]
        name = "panels-k{keys}-n{mean_len}-z{skew}-s{sigma}-h{horizon}".format(**p)
        cfg.update(kind="forecast", keys=p["keys"], horizon=p["horizon"],
                   holidays=",".join(map(str, p["holidays"])),
                   truth_z=wl["truth_z"],
                   panels=cached(os.path.join(data, f"{name}-seed{a.seed}-{source_tag(panels)}"),
                                 lambda d: panels.generate(d, a.seed, p["keys"], p["mean_len"],
                                                           p["skew"], p["sigma"], p["horizon"],
                                                           p["holidays"])))
        cfg.update({f"mismatch.{m}": v for m, v in wl["truth_mismatch"].items()})
    props = os.path.join(runs, f"{tag}.properties")
    with open(props, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in cfg.items())
    if os.path.exists(cfg["out"]):
        os.remove(cfg["out"])

    # a 1 GB heap on huge pages keeps the memory a fresh JVM touches small;
    # no perf-data file, so the JVM writes nothing outside the checkout
    cmd = ["java", "-Xmx1g", "-XX:+UseTransparentHugePages", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Harness", props]
    with open(os.path.join(runs, f"{tag}.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S}s")
    if rc != 0 or not os.path.exists(cfg["out"]):
        raise SystemExit(f"perfbench: harness exited {rc}; see {log.name}")
    with open(cfg["out"]) as f:
        res = json.load(f)

    if a.record:
        if res["failed"]:
            raise SystemExit("perfbench: digests differ between calls; nothing recorded")
        os.makedirs(os.path.dirname(expected), exist_ok=True)
        with open(expected, "w") as f:
            f.writelines(f"{k}\t{v}\n" for k, v in sorted(res["digests"].items()))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = res["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    for failure in res["failures"][:20]:
        print(f"failed: {failure}")
    print(json.dumps({"ambient": res["ambient"], "steady_passes": res["steady_passes"],
                      "samples": res["samples"], "tail_pct": res["tail_pct"],
                      "varying_ids": res["counter_stability"].get("varying", [])}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
