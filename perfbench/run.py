"""Suspicious-connects benchmark: one telemetry day through the analyst path.

  python3 perfbench/run.py --workload flow_train --seed 1 --seconds 20 --trace 0

Builds the program from source (build.py), generates the workload's inputs
from the seed (gen.py, cached per workload and seed), then runs one JVM
that sets up a session, runs the analyst path (`Main.runAnalysis` +
`Sinks.writeTsv`) once to warm up, times it for --seconds and checks every
output (perfbench/scala/Harness.scala). With --trace 1 the JVM also runs
the layer-by-layer traced pass and the per-layer metrics are printed
instead.

The output hash of a (workload, seed, scale, build) is kept under
.bench_build/hashes; a later run of the same one whose output hashes
differently fails its checks.

Every metric is printed on its own line with its unit, sample count and
core count; the last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. All files it writes are
under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# Main CLI arguments of each workload. {data} and {threshold} are filled in
# here; the harness gives every run its own --scored directory, and its own
# --model directory when fresh_model is set.
WORKLOADS = {
    "flow_train": dict(
        gen="flow_train",
        args=["--analysis", "flow", "--input", "{data}/flow", "--feedback",
              "{data}/feedback.tsv", "--dupfactor", "1000", "--topiccount", "20",
              "--maxresults", "200", "--scored", "{out}", "--model", "{model}"],
        fresh_model=True),
    "dns_train": dict(
        gen="dns_train",
        args=["--analysis", "dns", "--input", "{data}/dns", "--topdomains",
              "{data}/top_domains.csv", "--topiccount", "20", "--maxresults", "200",
              "--scored", "{out}", "--model", "{model}"],
        fresh_model=True),
    "flow_score": dict(
        gen="flow_score",
        args=["--analysis", "flow", "--input", "{data}/flow", "--threshold",
              "{threshold}", "--maxresults", "-1", "--scored", "{out}",
              "--model", "{model}"],
        prep="flow_train"),
}
# flow_score keeps the rows scoring at most this (see BENCHMARK.json)
SCORE_THRESHOLD = 8e-5
JVM_MEM = "4g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def fill(args, **kw):
    return [a.format(**kw) for a in args]


def inputs(workload, seed, scale):
    """Generated inputs of (workload, seed, scale), made once and cached under
    a key that includes the generator's source."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, "data", workload, f"{seed}-{scale}-{version}")
    if not os.path.exists(os.path.join(d, "inputs.json")):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen.generate(workload, seed, d + ".tmp", scale)
        os.rename(d + ".tmp", d)
    with open(os.path.join(d, "inputs.json")) as f:
        return d, json.load(f)


def jvm(classpath, spec, log):
    """Runs the harness on a spec; returns its result JSON."""
    work = spec["work"]
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spec = dict(spec, result=os.path.join(work, "result.json"))
    spec_file = os.path.join(work, "spec.properties")
    with open(spec_file, "w") as f:
        for k, v in spec.items():
            v = "\n".join(v) if isinstance(v, list) else str(v)
            f.write(k + "=" + v.replace("\\", "\\\\").replace("\n", "\\n") + "\n")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", classpath, "perfbench.Harness", spec_file]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_LOCAL_DIRS"] = tmp
    with open(log, "a") as lf:
        r = subprocess.run(cmd, cwd=OUT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=170)
    if r.returncode != 0 or not os.path.exists(spec["result"]):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"harness JVM failed with code {r.returncode}")
    with open(spec["result"]) as f:
        return json.load(f)


def stored_model(classpath, stamp, workload, scale, run_dir, log):
    """The model `workload` trains on its MODEL_SEED day, trained once per
    build of the program in a JVM of its own (untimed) and kept with that
    day's data, so every build loads a model its own code saved."""
    data, _ = inputs(workload, gen.MODEL_SEED, scale)
    model = os.path.join(data, "model-" + stamp[:16])
    if not os.path.exists(os.path.join(model, "_PREPARED")):
        shutil.rmtree(model, ignore_errors=True)
        work = os.path.join(run_dir, "prep")
        jvm(classpath, dict(mode="prep", work=work, args=fill(
            WORKLOADS[workload]["args"], data=data, out=os.path.join(work, "out"),
            model=model)), log)
        open(os.path.join(model, "_PREPARED"), "w").close()
    return model


def same_hash(key, hashes):
    """Errors if `hashes` is not one hash equal to the one stored under `key`
    by an earlier run; stores it when none is."""
    if len(hashes) != 1:
        return [f"output hash differs between runs: {hashes}"]
    d = os.path.join(OUT, "hashes")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, key)
    if os.path.exists(path):
        with open(path) as f:
            stored = f.read()
        return [] if stored == hashes[0] else [
            f"output hash {hashes[0]} differs from {stored} of an earlier run"]
    with open(path + ".tmp", "w") as f:
        f.write(hashes[0])
    os.replace(path + ".tmp", path)
    return []


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-tests run tiny inputs)")
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]

    classpath, stamp = build.classpath()
    data, stats = inputs(w["gen"], a.seed, a.scale)
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(run_dir, "jvm.log")
    spec = dict(mode="run", workload=a.workload, seconds=a.seconds, trace=a.trace,
                work=os.path.join(run_dir, "work"),
                fresh_model=int(w.get("fresh_model", False)))
    kw = dict(data=data, out="per-run", model="per-run", threshold=SCORE_THRESHOLD)
    if "prep" in w:
        kw["model"] = stored_model(classpath, stamp, w["prep"], a.scale, run_dir, log)
    spec["args"] = fill(w["args"], **kw)

    res = jvm(classpath, spec, log)
    runs = res["run_s"]
    if not runs:
        sys.stderr.write(json.dumps(res["checks"], indent=1) + "\n")
        raise SystemExit("no timed run completed")
    med = statistics.median(runs)
    hashes = sorted({c["hash"] for c in res["checks"]})
    errors = [f'{c["run"]}: {e}' for c in res["checks"] for e in c["errors"]]
    failed = res["failed"]
    if not errors:
        errors = same_hash(f"{a.workload}-{a.seed}-{a.scale}-{stamp[:16]}", hashes)
        # a set whose output differs from an earlier set's fails every run
        failed = res["attempted"] if errors else 0
    correct = not errors and failed == 0
    n = len(runs)
    e2e = {
        "events_per_s": (stats["rows"] / med, "events/s", n),
        "run_s": (med, "s", n),
        "setup_s": (res["setup_s"], "s", 1),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
        "perplexity_ratio": (res["perplexity_ratio"], "ratio", 1),
    }
    tr = res["trace"]
    layer = {}
    if a.trace:
        for m in BENCH["per_layer"]:
            name = m["name"]
            if name in tr:
                layer[name] = (tr[name], m["unit"], 1)
        for k, key in (("corpus.pairs", "corpus_pairs"), ("corpus.docs", "corpus_docs"),
                       ("corpus.vocab", "corpus_vocab")):
            layer[k] = (float(res[key]), "count", 1)
    lo, hi = quartiles(runs)
    info = dict(workload=a.workload, seed=a.seed, cores=res["cores"],
                input_rows=stats["rows"], input_docs=stats["docs"],
                corpus_pairs=res["corpus_pairs"], corpus_docs=res["corpus_docs"],
                corpus_vocab=res["corpus_vocab"], output_hash=",".join(hashes),
                rows_out=",".join(sorted({str(c["rows_out"]) for c in res["checks"]})),
                run_s_q1=lo, run_s_q3=hi, fail_ratio=f'{failed}/{res["attempted"]}')
    print("# " + " ".join(f"{k}={v}" for k, v in info.items()))
    shown = layer if a.trace else e2e
    for name, (v, unit, count) in shown.items():
        print(f"metric {a.workload} {name} {v} {unit} n={count} cores={res['cores']}")
    print(f"metric {a.workload} fail_ratio {failed / res['attempted']} failed/attempted "
          f"n={res['attempted']} cores={res['cores']}")
    for e in errors:
        print(f"check failed: {e}")
    if a.trace:
        with open(os.path.join(run_dir, "work", "spans.json")) as f:
            spans = f.read()
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            f.write('{"spans": ' + spans + ', "layers": ' +
                    json.dumps({k: v[0] for k, v in layer.items()}, indent=1) + "}\n")
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in shown.items()}
    result = {"correct": correct, "attempted": res["attempted"],
              "failed": failed, "metrics": metrics}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(dict(result, output_hash=",".join(hashes), errors=errors), f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
