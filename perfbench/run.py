#!/usr/bin/env python3
"""graft's benchmark: runs graft from outside, as its users do.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--save DIR]

One JVM at a time, Spark local[4], one closed-loop client thread. The
workloads are listed in perfbench/workloads.json:

  gated_sf0.1  oracle-gated `SparkEntry.queries` at sf0.1; an op is one
               query, timed from the query-function call to the end of
               `collect()`, and every result is checked against the DuckDB
               oracle's hash (perfbench/expected/).
  wod_ingest   paged WordPress ingest -> WodRealText.cleaned -> keyed
               idempotent sink; an op is one page, timed from fetch until
               its records are committed, and every page's counts and the
               committed rows are checked against the generator.

The seed sets the op order (and the posts of wod_ingest); the tables are
fixed. A run starts the harness JVM twice, one after the other; each sets
up from a cold start (session, warm-up) and measures whole passes until
half of --seconds have passed and half of the workload's min_ops ops have
run. setup_s is the median of the two set-ups; the ops of both are pooled.

--trace 0 measures with no collector attached and reports the end-to-end
metrics; --trace 1 attaches the layer collector and reports per-layer
metrics (per op), writing per-op layer records and spans under
perfbench/.work/trace/. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--save DIR also writes the full result, raw samples included, to DIR for
perfbench/compare.py.

The first run in a checkout builds the harness and graft with sbt and
generates the tables (perfbench/datagen.py); both are cached under
perfbench/.work/.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890
PARTS = 2
CORES = 4

# what Spark's launcher passes to a JDK 17 driver (as graft's build.sbt)
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint(paths):
    """Changes whenever a file under `paths` is added, removed or edited."""
    files = []
    for top in paths:
        if os.path.isfile(top):
            files.append(top)
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compiles graft and the harness; returns the runtime classpath."""
    inputs = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    inputs += [os.path.join(HARNESS, p) for p in ("build.sbt", "project/build.properties", "src")]
    fp = fingerprint(inputs)
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        cached = json.load(open(cp_file))
        if cached["fingerprint"] == fp:
            return cached["classpath"], False
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export harness/Runtime/fullClasspath"],
                         out, deadline, cwd=HARNESS)
    lines = [l.strip() for l in open(log) if l.strip() and not l.startswith("[")]
    if rc != 0 or not lines or "harness" not in lines[-1]:
        fail(f"build failed (rc {rc}); see {log}")
    json.dump({"fingerprint": fp, "classpath": lines[-1]}, open(cp_file, "w"))
    return lines[-1], True


def tables(sf):
    """Generated tables at scale factor `sf`, made once per checkout."""
    d = os.path.join(WORK, "data", f"sf{sf}")
    gen = os.path.join(HERE, "datagen.py")
    stamp = hashlib.sha256(open(gen, "rb").read()).hexdigest()
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker) and open(marker).read() == stamp:
        return d, False
    shutil.rmtree(d, ignore_errors=True)
    spec = importlib.util.spec_from_file_location("datagen", gen)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(d, sf)
    open(marker, "w").write(stamp)
    return d, True


def run_bounded(cmd, out, deadline, **kw):
    """Runs `cmd` in its own process group; kills the group at `deadline`."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish in time")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def p90(samples):
    """Nearest-rank p90, or None when fewer than 10 samples lie beyond it."""
    s = sorted(samples)
    rank = math.ceil(0.9 * len(s))
    return s[rank - 1] if len(s) - rank >= 10 else None


def combine(parts, records):
    """One result from the parts' results; `records` are the per-op layer
    records of a traced run (else empty)."""
    res = {"workload": parts[0]["workload"], "seed": parts[0]["seed"]}
    for k in ("setup_s", "heap_live_mb"):
        res[k] = [p[k] for p in parts]
    res["ops"] = [op for p in parts for op in p["ops"]]
    for k in ("attempted", "failed", "wrong", "timed_s", "check_s"):
        res[k] = sum(p[k] for p in parts)
    if records:
        res["layers"] = layer_metrics(records, sum(p["listener_ms"] for p in parts))
    return res


def layer_metrics(records, listener_ms):
    """Each per-layer metric per op (the sum over ops divided by ops),
    except the two ratios, which are taken over the whole run."""
    n = len(records)
    names = [m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]]

    def total(k):
        return sum(r[k] for r in records)
    m = {k: total(k) / n for k in names if not k.startswith("trace.")}
    m["execution.core_util"] = total("execution.task_ms") / max(total("ms") * CORES, 1.0)
    m["sources.write_yield"] = total("sources.rows_written") / max(total("etl.records_out"), 1.0)
    m["trace.listener_ms"] = listener_ms / n
    return m


def metrics(res, trace):
    lat = [ms for _, ms in res["ops"]]
    if trace:
        m = dict(res["layers"])
        m["trace.op_p50_ms"] = statistics.median(lat)
        return m
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_ms": statistics.median(lat),
        "ops_per_s": len(lat) / res["timed_s"],
        "success_rate": (res["attempted"] - res["failed"] - res["wrong"]) / res["attempted"],
        "heap_live_mb": statistics.median(res["heap_live_mb"]),
    }


def units():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def summary(res, m, trace):
    lat = [ms for _, ms in res["ops"]]
    n, bad = res["attempted"], res["failed"] + res["wrong"]
    print(f"perfbench {res['workload']} seed {res['seed']}: {n} ops "
          f"({res['failed']} failed, {res['wrong']} wrong) in {res['timed_s']:.1f} s timed")
    if trace:
        for k in sorted(m):
            print(f"  {k:32s} {m[k]:14.3f}")
        per_op = statistics.mean(lat)
        print(f"  tracing overhead: collector callbacks {m['trace.listener_ms']:.2f} ms per op "
              f"({100 * m['trace.listener_ms'] / per_op:.2f}% of the mean op); compare "
              f"trace.op_p50_ms with an untraced run's op_p50_ms for the end-to-end difference")
        return
    tail = p90(lat)
    rows = [
        ("setup_s", f"{m['setup_s']:.3f} s",
         f"median of {len(res['setup_s'])} cold set-ups: "
         + ", ".join(f"{x:.2f}" for x in res["setup_s"])),
        ("op_p50_ms", f"{m['op_p50_ms']:.1f} ms", f"n={len(lat)}"),
        ("op_p90_ms", f"{tail:.1f} ms" if tail is not None else "n/a",
         f"n={len(lat)}" + ("" if tail is not None else ", fewer than 10 samples beyond p90")),
        ("ops_per_s", f"{m['ops_per_s']:.3f} 1/s", f"n={len(lat)}"),
        ("error_rate", f"{bad / n:.4f} ratio", f"{bad} of {n}"),
        ("heap_live_mb", f"{m['heap_live_mb']:.1f} MB",
         f"after full GC, median of {len(res['heap_live_mb'])}"),
    ]
    for name, value, note in rows:
        print(f"  {name:14s} {value:>14s}  ({note})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save")
    a = ap.parse_args()
    started = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not here", 2)
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {', '.join(workloads)}", 2)
    w = workloads[a.workload]

    cp, built = build(started + BUILD_LIMIT_S)
    args = []
    made = False
    if "queries" in w:
        data, made_data = tables(w["data"].removeprefix("sf"))
        warm, made_warm = tables(w["warmup"].removeprefix("sf"))
        made = made_data or made_warm
        args = ["--data", data, "--warmup", warm,
                "--expected", os.path.join(HERE, w["expected"])] + w["queries"]
    deadline = (started + BUILD_LIMIT_S) if (built or made) else (started + RUN_LIMIT_S)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    trace_dir = os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(trace_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(WORK, f"jvm-{a.workload}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    parts, records = [], []
    try:
        for part in range(1, PARTS + 1):
            result = os.path.join(run_dir, f"result-{part}.json")
            part_trace = os.path.join(trace_dir, f"part{part}")
            cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                   "-cp", cp, "graftbench.Main", "run", "--work", run_dir, "--part", str(part),
                   "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds / PARTS),
                   "--min-ops", str(math.ceil(w.get("min_ops", 0) / PARTS)),
                   "--trace", str(a.trace), "--trace-dir", part_trace, "--out", result, *args]
            with open(log, "w" if part == 1 else "a") as out:
                rc = run_bounded(cmd, out, deadline, env=env, cwd=ROOT)
            if rc != 0 or not os.path.exists(result):
                fail(f"harness exited with {rc}; see {log}")
            parts.append(json.load(open(result)))
            if a.trace:
                records += [json.loads(l) for l in open(os.path.join(part_trace, "ops.jsonl"))]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res = combine(parts, records)

    m = metrics(res, a.trace == 1)
    summary(res, m, a.trace == 1)
    unit = units()
    # a failed op produced no output: it counts in `failed`, while
    # `correct` says whether every output that was produced is right
    out = {
        "correct": res["wrong"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"] + res["wrong"],
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in m.items()},
    }
    if a.save:
        os.makedirs(a.save, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}{'-trace' if a.trace else ''}.json"
        json.dump(dict(out, raw=res), open(os.path.join(a.save, name), "w"), indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
