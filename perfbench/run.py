#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run.

    python3 perfbench/run.py --workload {ingest,drain,catalog} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine from the
repository's sources together with the harness in perfbench/ (sbt,
offline, Spark jars from $SPARK_HOME or the install holding spark-submit
on PATH); later runs reuse the build while the sources are unchanged. Inputs are generated from
the seed into a scratch directory that is removed at exit.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 the same run is made with tracing on, and the line carries the
per-layer metrics plus the tracing overhead: the traced latency_p50
against that of the untraced record of the same seed and sources (or,
lacking one, the median of the untraced records of those sources). Every
run writes its full record (facts, checks, spans) under .bench_out/,
which perfbench/trace_report.py summarises and diffs.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

# Fixed workload settings; a change under test never retunes them.
PARAMS = {
    "ingest": {"rate": 2000, "history_msgs": 20000, "warmup_s": 3},
    "drain": {"drain_msgs": 24000},
    "catalog": {
        "catalog_sf": 0.005,
        "queries": ["q39_part_pagerank", "ws12_stream_cusum"],
        "tables": ["lineitem", "events"],  # what those queries read
    },
}
JVM_PARAMS = ("rate", "warmup_s", "queries")  # the ones the JVM side reads
JVM_TIMEOUT_S = 165
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """$SPARK_HOME, else the install that holds `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


def build():
    """Compile engine + harness unless the sources match the last build."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "Compile/copyResources"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("build failed")
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs from /proc/stat, or None
    where there is none."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(classes, args, inputs, work, out, params, log_path):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size heap: the full GCs of the heap sample must not shrink
    # it under the timed iterations that follow
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{spark_home()}/jars/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--in", inputs, "--work", work, "--out", out]
    for k, v in params.items():
        if k in JVM_PARAMS:
            v = ",".join(v) if isinstance(v, list) else v
            cmd += ["--param", f"{k}={v}"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work)
        code = None
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    return code


def ingest_metrics(phase, params):
    from checks import ingest_check, pct, read_landing
    raw = phase["raw"]
    landed = read_landing(raw["landing"])
    wrong, detail, lat, batches = ingest_check(
        landed, params["history_msgs"], raw["published"], raw["batch_end_us"],
        raw["measure_from_us"])
    p95 = pct(lat, 0.95)
    beyond = len({b for l, b in zip(lat, batches) if l > p95})
    # messages due in the measured window per second, until the last of
    # them landed: below the offered rate when the stream falls behind.
    # A stream that landed nothing has no latency (null) and throughput 0.
    ends = [e for e in raw["batch_end_us"].values() if e > raw["measure_from_us"]]
    metrics = {
        "latency_p50_ms": pct(lat, 0.5),
        "latency_p95_ms": p95,
        "throughput_per_s": len(lat) / ((max(ends) - raw["measure_from_us"]) / 1e6)
        if ends and lat else 0.0,
    }
    detail["samples"] = len(lat)
    detail["batches_beyond_p95"] = beyond
    return wrong, detail, metrics


def drain_metrics(phase, inputs, out, seed):
    from checks import drain_check, drain_expected, pct, read_drain_round, read_events
    raw = phase["raw"]
    events = read_events(f"{inputs}/drain/events.parquet")
    _, retried = drain_expected(events, seed)
    wrong, detail, p50s, p95s = 0, {}, [], []
    for r in range(raw["rounds"]):
        relay, landed, dlq = read_drain_round(f"{out}-r{r}")
        w, d = drain_check(events, relay, landed, dlq, seed)
        wrong += w
        detail[f"r{r}"] = d
        if r < raw["warmup_rounds"]:  # warm-up rounds are checked, not timed
            continue
        info = raw[f"r{r}"]
        ends = info["batch_end_us"]
        lat = [(ends[row[5]] - info["start_us"]) / 1000.0
               for row in landed if row[5] in ends]
        p50s.append(pct(lat, 0.5))
        p95s.append(pct(lat, 0.95))
    if raw["retried"] != retried * raw["rounds"]:
        detail["retried"] = f"{raw['retried']} != predicted {retried * raw['rounds']}"
        wrong += 1
    # each timed round is one sample of the percentiles and of the
    # consume rate; the run reports their medians, so one slow round does
    # not set them
    metrics = {
        "latency_p50_ms": statistics.median(p50s),
        "latency_p95_ms": statistics.median(p95s),
        "throughput_per_s": statistics.median(raw["messages"] / c for c in raw["consume_s"]),
    }
    detail["publish_msgs_per_s"] = raw["messages"] * len(raw["publish_s"]) / sum(raw["publish_s"])
    detail["rounds"] = raw["rounds"]
    return wrong, detail, metrics


def catalog_metrics(phase, inputs, out, params):
    """The checked pass's results are compared to the DuckDB oracles."""
    from checks import catalog_check, pct
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    wrong, problems = catalog_check(f"{inputs}/sf", f"{out}/results", oracle,
                                    params["queries"])
    passes = phase["raw"]["pass_s"]
    metrics = {
        "latency_p50_ms": statistics.median(passes) * 1000.0,
        "latency_p95_ms": pct(passes, 0.95) * 1000.0,
        "throughput_per_s": len(params["queries"]) / statistics.median(passes),
    }
    return wrong, {"passes": len(passes), "oracle": problems or "all equal"}, metrics


def evaluate(workload, phase, inputs, out, params, seed):
    """(wrong, detail, metrics) of the measured phase."""
    if workload == "ingest":
        return ingest_metrics(phase, params)
    if workload == "drain":
        return drain_metrics(phase, inputs, f"{out}/drain", seed)
    return catalog_metrics(phase, inputs, out, params)


def untraced_latency(workload, seed, digest):
    """(latency_p50_ms, the records it comes from) of the untraced runs
    of these sources: the same seed's record if there is one, else the
    median over every seed's; (None, []) when there is none."""
    out = os.path.join(ROOT, ".bench_out")
    same = f"{workload}-seed{seed}-trace0.json"
    names = sorted(f for f in (os.listdir(out) if os.path.isdir(out) else [])
                   if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json"))
    found = {}
    for name in names:
        try:
            rec = json.load(open(os.path.join(out, name)))
            if rec["facts"]["source_digest"] == digest and \
                    rec["facts"]["correct"]:
                found[name] = rec["end_to_end"]["latency_p50_ms"]
        except (OSError, ValueError, KeyError):
            continue
    if same in found:
        return found[same], [same]
    if found:
        return statistics.median(found.values()), sorted(found)
    return None, []


def finite(v):
    """A metric value for the JSON line: null unless a finite number."""
    return v if isinstance(v, (int, float)) and v == v and abs(v) != float("inf") \
        else None


def main():
    # a terminated run still removes its scratch directory and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload not in PARAMS:
        die(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from a checkout")
    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except (OSError, ValueError) as e:
        die(f"BENCHMARK.json: {e}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    classes = build()
    params = PARAMS[args.workload]
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = f"{work}/in", f"{work}/out"
    os.makedirs(inputs)
    os.makedirs(out)
    try:
        import gen
        t0 = time.time()
        digest = gen.generate(args.workload, args.seed, inputs, dict(
            params, stream_msgs=int(PARAMS["ingest"]["rate"] *
                            (args.seconds + PARAMS["ingest"]["warmup_s"] + 2))))
        gen_s = time.time() - t0
        log_path = f"{work}/jvm.log"
        t0, ticks0 = time.time(), cpu_ticks()
        code = run_jvm(classes, args, inputs, f"{work}/w", out, params, log_path)
        result_path = f"{out}/result.json"
        if code is None or not os.path.exists(result_path):
            print(open(log_path).read()[-4000:], file=sys.stderr)
            die("the JVM " + ("timed out" if code is None else f"exited {code}")
                + " without a result")
        res = json.load(open(result_path))
        if "fatal" in res:
            print(open(log_path).read()[-4000:], file=sys.stderr)
            die(f"the workload failed: {res['fatal']}")

        jvm_s, ticks1 = time.time() - t0, cpu_ticks()
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # runs taken under heavy steal compare only with each other
        steal_frac = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) \
            if ticks0 and ticks1 else None
        t0 = time.time()
        ph = res["phase"]
        wrong, detail, e2e = evaluate(args.workload, ph, inputs, out, params,
                                      args.seed)
        attempted = ph["attempted"]
        failed = min(attempted, max(ph["failed"], 0) + wrong)
        correct = failed == 0 and attempted > 0
        checks = dict(detail, jvm_errors=ph["errors"])
        e2e.update({
            "setup_s": statistics.median(res["setup_s"]),
            "ok_frac": 1.0 - (failed / attempted if attempted else 1.0),
            "live_heap_mb": res["live_heap_mb"],
        })
        sources = source_digest()
        facts = dict(res["facts"], seed=args.seed, workload=args.workload,
                     seconds=args.seconds, trace=args.trace, input_digest=digest,
                     git_commit=git_commit(), source_digest=sources,
                     gen_s=gen_s, jvm_s=jvm_s, measure_s=res.get("measure_s"),
                     steal_frac=steal_frac,
                     check_s=time.time() - t0, host=platform.node(),
                     params=params, xmx=HEAP, correct=correct)
        if args.trace:
            layers = dict(ph["layers"])
            base, base_from = untraced_latency(args.workload, args.seed, sources)
            facts["trace_overhead_baseline"] = base_from
            layers["bench.trace_overhead_frac"] = \
                e2e["latency_p50_ms"] / base - 1.0 if base else None
            spec_metrics = {m["name"]: m for m in spec["per_layer"]}
            values = {k: layers.get(k, 0.0) for k in spec_metrics}
        else:
            spec_metrics = {m["name"]: m for m in spec["end_to_end"]}
            values = {k: e2e[k] for k in spec_metrics}
        metrics = {k: {"value": finite(v), "unit": spec_metrics[k]["unit"]}
                   for k, v in values.items()}
        record = {"facts": facts, "checks": checks, "end_to_end": e2e,
                  "setup_s": res["setup_s"], "metrics": metrics,
                  "raw": {k: v for k, v in ph["raw"].items()
                          if k.startswith(("pass", "query", "publish", "consume", "stage"))}}
        if args.trace:
            record["layers"] = layers
            record["spans"] = res["spans"]
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        rec_path = os.path.join(ROOT, ".bench_out",
                                f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(rec_path, "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({"facts": facts, "checks": checks}))
        if not correct:
            print(f"perfbench: {failed} of {attempted} operations failed; "
                  f"see {rec_path}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        if not correct:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass


if __name__ == "__main__":
    main()
