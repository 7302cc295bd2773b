#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one query at a time.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first invocation builds the library
and the harness with sbt (offline) into the checkout; later ones reuse the
build while the sources are unchanged. Each invocation:

  1. generates the workload's inputs and the small oracle instance from
     --seed (graftbench/gen.py), cached under .bench_build/;
  2. starts a set-up-only JVM, then the measuring JVM, and times each from
     spawn to the end of the fixed warm-up query (`setup_s`, median);
  3. in the measuring JVM, writes every workload query's result on the
     oracle instance (which also warms each query up), then runs the timed
     passes on the workload inputs;
  4. compares the oracle-instance results with DuckDB through
     tools/check.py, one query at a time under a time cap;
  5. prints the metrics as one JSON object on the last line of stdout.

Everything else (logs, spans, the per-layer tables) goes to
.bench_build/graftbench/out/. With --trace 1 a discarded warm-up pass comes
first, then three passes, the middle one traced, and the metrics are the
per-layer ones that BENCHMARK.json lists.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Each workload stresses different layers; see graftbench/README.md for the
# predictions. Both take about PASS_S for one warm pass on 4 cores: a run
# makes max(3, round(seconds / PASS_S)) timed passes, so every run of a
# workload does the same work and yields the same number of samples.
WORKLOADS = {
    "series_kernels": {
        "profile": "series_kernels",
        "queries": ["q_bocpd", "q_pelt", "q_sampen", "q_matrix_profile"],
    },
    "corpus_dedup": {
        "profile": "corpus_dedup",
        "queries": ["q_dedup_minhash_pairs", "q_knn_bruteforce", "q_stream_quality"],
    },
}
PASS_S = 3.5
SETUP_SAMPLES = 2          # set-up-only JVMs + the measuring JVM's own set-up
ORACLE_CAP_S = 5.0         # per-oracle cap on the tools/check.py process; slower ones are listed as unchecked
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# per-layer metrics of traced runs: name -> unit, as BENCHMARK.json lists them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    LAYER_METRICS = {x["name"]: x["unit"] for x in json.load(_f)["per_layer"]}
# span kinds -> layer whose self time they measure
SELF_TIME_LAYERS = {
    "queries": ["build"], "catalyst": ["plan"], "action": ["action"], "scheduler": ["job"],
    "tasks": ["stage"], "streaming": ["microbatch"],
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in fns if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(WORK, "build.json")
    stamp = source_stamp()
    try:
        with open(stamp_file) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building library and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), *opts, "-Xmx2g"]).strip()
    os.makedirs(WORK, exist_ok=True)
    t0 = time.monotonic()
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf, text=True, timeout=850)
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        raise BenchError(f"sbt build failed (exit {p.returncode}); see {os.path.join(WORK, 'build.log')}")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip(), "build_s": time.monotonic() - t0}, f)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def inputs(profile, seed):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        ghash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{profile}-{seed}-{ghash}")
    if not os.path.exists(os.path.join(d, "properties.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(profile, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(os.path.join(d, "properties.json")) as f:
        return d, json.load(f)


# ---------------------------------------------------------------- JVMs

def jvm(classpath, args, out_dir, tag, deadline):
    """Run one benchmark JVM; return (seconds from spawn to READY, spawn epoch ms, result)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(out_dir, f"{tag}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "graftbench.Main", f"work={WORK}", f"out={out}", *args]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    with open(os.path.join(out_dir, f"{tag}.log"), "w") as errf:
        spawn_ms = time.time() * 1000
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=errf, text=True)
        timer = threading.Timer(max(deadline - time.monotonic(), 1.0), p.kill)
        timer.start()
        ready = None
        try:
            for line in p.stdout:
                if ready is None and line.strip() == "READY":
                    ready = time.monotonic() - t0
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or ready is None:
        raise BenchError(f"{tag} JVM failed (exit {rc}); see {os.path.join(out_dir, tag + '.log')}")
    with open(out) as f:
        return ready, spawn_ms, json.load(f)


# ---------------------------------------------------------------- oracle

def oracle_check(small_dir, dump_dir, status, queries):
    """query -> ("ok" | "fail" | "unchecked", detail): tools/check.py against
    DuckDB, one process per oracle, one at a time, so the cap stops exactly
    that oracle and no oracle slows another down."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)

    def one(q):
        if q not in sqls:
            return "unchecked", "no oracle SQL"
        if status.get(q, {}).get("error"):
            return "fail", "spark failed on the oracle instance: " + status[q]["error"]
        try:
            p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), small_dir, dump_dir, q],
                               cwd=ROOT, capture_output=True, text=True, timeout=ORACLE_CAP_S)
        except subprocess.TimeoutExpired:
            return "unchecked", f"oracle exceeded the {ORACLE_CAP_S:.0f} s cap"
        line = next((ln for ln in p.stdout.splitlines() if ln.startswith(("OK ", "FAIL "))), None)
        if line is None:
            return "unchecked", "tools/check.py produced no verdict: " + p.stderr.strip()[-300:]
        return ("ok", None) if line.startswith("OK ") else ("fail", line)

    return {q: one(q) for q in queries}


def self_times(spans, pass_ids):
    """Seconds per span kind inside the given pass spans. Every instant of a
    pass goes to exactly one kind, that of the deepest span open at that
    instant (overlapping spans of one depth are nearly always of one kind,
    e.g. concurrent stages; otherwise the kind that sorts last wins), so the
    kinds partition the passes' time."""
    by_id = {s["id"]: s for s in spans}

    def chain(s):
        out = [s]
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
            out.append(s)
        return out

    out = {}
    for pid in pass_ids:
        ps = by_id[pid]
        lo, hi = ps["start_ns"], ps["end_ns"]
        inside = []
        for s in spans:
            if s["end_ns"] < 0:
                continue
            c = chain(s)
            if all(x["id"] != pid for x in c):
                continue
            a, b = max(s["start_ns"], lo), min(s["end_ns"], hi)
            if b > a:
                inside.append((a, b, len(c), s["kind"]))
        cuts = sorted({t for a, b, _, _ in inside for t in (a, b)})
        for t0, t1 in zip(cuts, cuts[1:]):
            kind = max(((d, k) for a, b, d, k in inside if a <= t0 and t1 <= b), default=(0, "pass"))[1]
            out[kind] = out.get(kind, 0.0) + (t1 - t0) / 1e9
    return out


def m(value, unit):
    return {"value": value, "unit": unit}


def write_selftime_table():
    """Markdown table: self-time share of wall_s per layer (rows) and workload (columns)."""
    rows = {}
    for w in WORKLOADS:
        try:
            with open(os.path.join(WORK, "out", f"selftime-{w}.json")) as f:
                rows[w] = json.load(f)
        except (OSError, ValueError):
            continue
    if not rows:
        return
    layers = [*SELF_TIME_LAYERS, "unattributed"]
    ws = sorted(rows)
    lines = ["| layer | " + " | ".join(ws) + " |", "|---|" + "---|" * len(ws)]
    for layer in layers:
        lines.append(f"| {layer} | " + " | ".join(f"{rows[w]['share'].get(layer, 0.0):.3f}" for w in ws) + " |")
    lines.append("| traced wall_s (s) | " + " | ".join(f"{rows[w]['traced_wall_s']:.3f}" for w in ws) + " |")
    lines.append("| untraced wall_s (s) | " + " | ".join(f"{rows[w]['untraced_wall_s']:.3f}" for w in ws) + " |")
    lines.append("| tracing overhead (s) | " + " | ".join(f"{rows[w]['overhead_s']:.3f}" for w in ws) + " |")
    with open(os.path.join(WORK, "out", "selftime_by_workload.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--cpus", type=int, default=min(4, os.cpu_count() or 1),
                    help="local[N] cores (default: min(4, nproc)); 1 gives the single-threaded reference")
    a = ap.parse_args()
    if a.seconds < 1 or a.cpus < 1:
        ap.error("--seconds and --cpus must be positive")
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise BenchError(f"{f} not found next to graftbench/: run from a full graft checkout")

    start = time.monotonic()
    w = WORKLOADS[a.workload]
    classpath = build()
    deadline = time.monotonic() + 170  # the measurement itself stays inside 180 s after a build
    data, props = inputs(w["profile"], a.seed)
    small, _ = inputs("oracle", a.seed)
    out_dir = os.path.join(WORK, "out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    passes = max(3, round(a.seconds / PASS_S))
    common = [f"cpus={a.cpus}", f"data={data}"]

    # setup_s is an end-to-end metric only: traced runs skip the extra set-ups
    setups = []
    for i in range(SETUP_SAMPLES - 1 if a.trace == 0 else 0):
        ready, _, _ = jvm(classpath, ["mode=setup", *common], out_dir, f"setup{i}", deadline)
        setups.append(ready)
    dump = os.path.join(out_dir, "oracle")
    ready, spawn_ms, res = jvm(classpath, [
        "mode=run", *common, f"queries={','.join(w['queries'])}", f"passes={passes}", f"trace={a.trace}",
        f"oracle_queries={','.join(w['queries'])}", f"oracle_data={small}", f"oracle_out={dump}",
        f"spans={os.path.join(out_dir, 'spans.json')}"], out_dir, "main", deadline)
    setups.append(ready)
    oracle = oracle_check(small, dump, res["oracle"], w["queries"])

    # correctness: every execution succeeded, and each query's fingerprint
    # repeats exactly across passes; each oracle comparison made counts too
    failures, first = [], {}
    for e in res["execs"]:
        fp = (e["rows"], e["hash"])
        if not e["ok"]:
            failures.append(f"{e['query']} pass {e['pass']}: {e['error']}")
        elif first.setdefault(e["query"], fp) != fp:
            failures.append(f"{e['query']} pass {e['pass']}: fingerprint {fp} differs from {first[e['query']]}")
    failures += [f"{q} oracle: {d}" for q, (s, d) in oracle.items() if s == "fail"]
    unchecked = {q: d for q, (s, d) in oracle.items() if s == "unchecked"}
    attempted = len(res["execs"]) + sum(1 for s, _ in oracle.values() if s != "unchecked")

    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    lat = {}  # query -> latencies of its good untraced executions, in pass order
    for e in res["execs"]:
        if not e["traced"] and e["ok"]:
            lat.setdefault(e["query"], []).append(e["build_s"] + e["plan_s"] + e["action_s"])
    if not lat:
        raise BenchError("every execution failed: " + "; ".join(failures[:5]))
    # a typical pass: each query at its median latency over the passes, so
    # one slow execution (a GC pause, a neighbour's burst) moves nothing
    per_query = {q: statistics.median(v) for q, v in lat.items()}
    wall = sum(per_query.values())
    samples = [x for v in lat.values() for x in v]
    pass_wall = statistics.mean(p["wall_s"] for p in untraced)
    report = {"workload": a.workload, "seed": a.seed, "cpus": a.cpus, "passes": passes, "inputs": props,
              "setup_samples_s": setups, "latency_samples": len(samples), "per_query_s": per_query,
              "pass_walls_s": [p["wall_s"] for p in untraced], "failures": failures, "unchecked": unchecked,
              "oracle": {q: s for q, (s, _) in oracle.items()},
              "query_p50_s": statistics.median(samples), "query_slowest_s": max(per_query.values())}

    if a.trace == 0:
        metrics = {"setup_s": m(statistics.median(setups), "s"), "wall_s": m(wall, "s")}
    else:
        with open(os.path.join(out_dir, "spans.json")) as f:
            spans = json.load(f)
        st = self_times(spans, {p["span"] for p in traced})
        traced_wall = statistics.mean(p["wall_s"] for p in traced)
        tot = sum(st.values())
        share = {layer: sum(st.get(k, 0.0) for k in kinds) / tot for layer, kinds in SELF_TIME_LAYERS.items()}
        share["unattributed"] = sum(st.get(k, 0.0) for k in ("pass", "query")) / tot
        if abs(sum(share.values()) - 1.0) > 1e-9 or abs(tot - traced_wall * len(traced)) > 1e-3:
            raise BenchError(f"self times do not partition the traced passes: {st} vs {traced_wall} s")
        setup = res["setup"]
        values = {**res["layers"], **{f"selftime.{layer}_frac": v for layer, v in share.items()},
                  "session.jvm_start_s": (setup["main_entry_ms"] - spawn_ms) / 1000.0,
                  "session.build_s": setup["build_s"], "session.warmup_s": setup["warmup_s"],
                  "jvm.peak_rss_mb": res["passes_vmhwm_kb"] / 1024.0,
                  "queries.p50_s": report["query_p50_s"], "queries.slowest_s": report["query_slowest_s"],
                  "trace.overhead_s": traced_wall - pass_wall}
        metrics = {k: m(values[k], unit) for k, unit in LAYER_METRICS.items()}
        report.update(layers_absent=res.get("absent", {}), selftime_share=share)
        with open(os.path.join(WORK, "out", f"selftime-{a.workload}.json"), "w") as f:
            json.dump({"seed": a.seed, "share": share, "traced_wall_s": traced_wall, "untraced_wall_s": pass_wall,
                       "overhead_s": traced_wall - pass_wall}, f, indent=1)
        write_selftime_table()

    report["metrics"] = metrics
    report["elapsed_s"] = time.monotonic() - start
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for k, v in metrics.items():
        log(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    log(f"{a.workload}: query latency p50 {report['query_p50_s']:.4g} s, slowest query {report['query_slowest_s']:.4g} s "
        f"({len(samples)} samples over {len(untraced)} untraced passes)")
    for f in failures:
        log(f"FAILED {f}")
    for q, d in unchecked.items():
        log(f"UNCHECKED {q}: {d}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        sys.exit(3)
