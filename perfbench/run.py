#!/usr/bin/env python3
"""graft benchmark: pipeline freshness, lake CDC commit/read latency and
analytic query latency, with a traced per-module breakdown.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bike_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload
    python3 perfbench/run.py --selftest                       # generator checks

The first run builds the engine and the benchmark from source with sbt
(outputs under target/, perfbench/target/ and .bench_build/). Each run then
starts one JVM, prints the metrics it measured by name on a line of its own,
and prints as its last line one JSON object with the keys correct, attempted,
failed and metrics. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. A failed operation or
correctness check makes the exit code 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

WORKLOADS = ["bike_pipeline", "lake_cdc", "gate_mix", "hot_corpus"]
# The operation whose latency is each workload's op_p50_ms / op_tail_ms,
# and the read whose latency is its read_p50_ms. Analytic calls (gate rows,
# hot-corpus calls) are operations of kind "query": query_p50_ms.
PRIMARY = {"bike_pipeline": "drop", "lake_cdc": "commit",
           "gate_mix": "query", "hot_corpus": "query"}
READ = {"bike_pipeline": "lookup", "lake_cdc": "read"}
BUILD = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def require_checkout():
    """The benchmark measures the engine in the checkout it runs from."""
    needed = ["build.sbt", os.path.join("src", "main", "scala", "graft"),
              os.path.join("perfbench", "build.sbt"), "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log("not the root of a graft checkout; missing: " + ", ".join(missing))
        sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("src", "main"),
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties"),
             os.path.join("perfbench", "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        # an offline image: resolve only from the pre-warmed caches
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
        env.setdefault("COURSIER_MODE", "offline")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile engine and benchmark once per source tree; return the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "stamp")
    cp_path = os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == digest:
                with open(cp_path) as g:
                    return g.read().strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd="perfbench", env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        log("build failed")
        sys.exit(2)
    lines = [ln for ln in proc.stdout.splitlines()
             if not ln.startswith("[") and ".jar" in ln]
    if not lines:
        log("build printed no classpath")
        sys.exit(2)
    cp = lines[-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def other_jvms():
    """Java processes already running: they would share the cores."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            found.append(int(pid))
    return found


def git_revision():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def tail(xs):
    """(value, percentile, samples): the highest percentile with at least
    10 samples above it. Under 110 samples that percentile is below p90,
    no tail, so the tail is then the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None, None, 0
    if n < 110:
        return s[-1], 100, n
    i = n - 11
    return s[i], int(100 * (i + 1) / n), n


def jvm_run(cp, workload, seed, seconds, traced, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The heap is fixed and touched at start, so neither heap resizing nor
    # how much of it a run happens to touch moves timings or peak RSS.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if traced else "0",
            "--work", os.path.abspath(work), "--out", os.path.abspath(out)]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(logf, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        log(f"{workload}: JVM exited with {code}")
        return None
    with open(out) as f:
        return json.load(f)


def oracle_check(res):
    """Gate rows: compare the warm-up pass's results with the DuckDB oracle
    under tools/check_oracle.py's rule. Returns (checked, failed)."""
    data, out = res["named"]["oracle_data"], res["named"]["oracle_out"]
    proc = subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"),
                           data, out], capture_output=True, text=True,
                          timeout=120)
    verdicts = [ln for ln in proc.stdout.splitlines()
                if ln.split(" ")[0] in ("PASS", "FAIL", "ERR", "ROWS")]
    bad = [ln for ln in verdicts if not ln.startswith(("PASS", "ROWS"))]
    for ln in bad:
        log(f"oracle: {ln}")
    if not verdicts or (proc.returncode != 0 and not bad):
        log("oracle check failed: " + proc.stderr[-2000:])
        return max(len(verdicts), 1), 1
    return len(verdicts), len(bad)


def named_metrics(workload, res, op_tail):
    """The metrics under their per-workload names."""
    wall, setup, rss = res["wall_s"], res["setup"]["setup_s"], res["peak_rss_mb"]
    m = {"setup_s": setup, "wall_s": wall, "slice_s": res["slice_s"],
         "peak_rss_mb": rss}
    s = res["samples"]
    if workload == "bike_pipeline":
        m["drop_p50_s"] = statistics.median(s["drop"]) / 1000
        m["drop_tail_s"] = op_tail / 1000
        m["lookup_p50_ms"] = statistics.median(s["lookup"])
    elif workload == "lake_cdc":
        m["commit_p50_ms"] = statistics.median(s["commit"])
        m["commit_tail_ms"] = op_tail
        m["read_p50_ms"] = statistics.median(s["read"])
        m["read_tail_ms"] = tail(s["read"])[0]
        m["write_amp"] = res["named"]["write_amp"]
        m["space_amp"] = res["named"]["space_amp"]
    m["query_p50_s"] = statistics.median(s["query"]) / 1000
    m["query_tail_s"] = tail(s["query"])[0] / 1000
    return m


def run_one(cp, workload, seed, seconds, traced, others):
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = jvm_run(cp, workload, seed, seconds, traced, work)
        if res is None:
            return None
        attempted, failed = res["attempted"], res["failed"]
        for f in res["failures"]:
            log(f"{workload}: {f}")
        if "oracle_data" in res["named"]:
            checked, bad = oracle_check(res)
            attempted += checked
            failed += bad
        kinds = [PRIMARY[workload], READ.get(workload, "query"), "query"]
        missing = [k for k in kinds if not res["samples"].get(k)]
        if missing:
            log(f"{workload}: no {', '.join(missing)} completed")
            return None
        xs, reads, queries = (res["samples"][k] for k in kinds)
        op_tail, pct, n = tail(xs)
        metrics = {
            "setup_s": res["setup"]["setup_s"],
            "op_p50_ms": statistics.median(xs),
            "op_tail_ms": op_tail,
            "ops_per_s": len(xs) / res["wall_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "read_p50_ms": statistics.median(reads),
            "query_p50_ms": statistics.median(queries),
        }
        named = named_metrics(workload, res, op_tail)
        named["failed_frac"] = failed / max(attempted, 1)
        env = dict(res["env"], seed=seed, git_revision=git_revision(),
                   source_digest=source_digest()[:16], other_jvms=len(others))
        detail = {"workload": workload, "traced": traced, "metrics": named,
                  "tail": {"op": {"percentile": pct, "samples": n}},
                  "setup": res["setup"], "rounds": res["rounds"],
                  "samples": {k: len(v) for k, v in res["samples"].items()},
                  "env": env}
        if traced:
            reported = dict(res["per_layer"], **{"trace.op_p50_ms": metrics["op_p50_ms"]})
            # a workload BENCHMARK.json lists reports exactly its per-layer
            # names; the on-demand ones report all they measured
            if workload in [w["name"] for w in spec()["workloads"]]:
                per_layer = {m["name"]: reported.get(m["name"], 0.0)
                             for m in spec()["per_layer"]}
            else:
                per_layer = reported
            side = os.path.join(BUILD, "trace", f"{workload}-s{seed}")
            shutil.rmtree(side, ignore_errors=True)
            shutil.copytree(os.path.join(work, "trace"), side)
            with open(os.path.join(side, "per_layer.json"), "w") as f:
                json.dump({"detail": detail, "per_layer": per_layer}, f,
                          indent=1, sort_keys=True)
            detail["trace_sidecar"] = side
            out_metrics = per_layer
        else:
            out_metrics = metrics
        print(json.dumps(detail, sort_keys=True), flush=True)
        units = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer")
                 for m in spec()[k]}
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units.get(k, "")}
                            for k, v in out_metrics.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    require_checkout()
    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    cp = build()
    if a.selftest:
        work = os.path.join(BUILD, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        ok = jvm_run(cp, "selftest", a.seed, 0, False, work) is not None
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(ln for ln in f if ln.startswith("[selftest]")))
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"selftest": ok}))
        sys.exit(0 if ok else 1)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        others = other_jvms()
        if others:
            log(f"another JVM is running ({len(others)}): figures may be loaded")
        r = run_one(cp, w, a.seed, seconds, a.trace == 1, others)
        if r is None:
            sys.exit(1)
        results.append(r)
        if len(names) > 1:
            print(json.dumps(r), flush=True)
    if len(names) == 1:
        print(json.dumps(results[0]), flush=True)
    sys.exit(0 if all(r["correct"] for r in results) else 1)


if __name__ == "__main__":
    main()
