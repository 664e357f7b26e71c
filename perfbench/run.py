#!/usr/bin/env python3
"""perfbench: the repository benchmark. See perfbench/README.md.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --all --seed 1 [--trace 1]

Builds the program and the harness from source on first use, generates
the workload's inputs from the seed, runs the harness JVM, checks the
outputs outside the timed region and prints the metrics. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["etl_daily", "analyst_queries", "corpus_curate"]
ETL_DAYS = 5
CPUS = max(1, min(4, os.cpu_count() or 1))


def harness_timeout_s(seconds):
    """The harness's deadline: five times the time budget, at least 165 s."""
    return max(165, 5 * seconds)


# the metrics of BENCHMARK.json, with units
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "host.floor_ms": "ms", "trace.overhead_ratio": "ratio",
    "Tables.resolve_ms": "ms", "Tables.resolve_jobs": "count",
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "op.outside_jobs_ms": "ms",
    "exec.wall_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.scheduler_wait_ms": "ms",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.input_bytes": "B", "exec.task_failures": "count",
    "etl.OperationalLoad.run_ms": "ms", "io.Staging.readCsvPrefix_ms": "ms",
    "io.Staging.files_written": "count", "io.Staging.bytes_written": "B",
    "io.Staging.empty_files_written": "count",
    "io.Staging.stored_bytes_per_input_byte": "B/B",
    "etl.MartBuild.run_ms": "ms", "etl.MartBuild.rows_written": "count",
    "etl.MartBuild.rows_rewritten_ratio": "ratio",
    "ext.CorpusPipeline.build_ms": "ms", "ext.CorpusPipeline.build_jobs": "count",
    "ext.CorpusPipeline.qualityFilter_ms": "ms",
    "ext.CorpusPipeline.exactDedup_ms": "ms",
    "ext.CorpusPipeline.nearDupFilter_ms": "ms",
    "ext.DedupOps.lsh_candidates": "count", "ext.DedupOps.lsh_precision": "ratio",
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------
# build
# ---------------------------------------------------------------------

def _spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark jars (set SPARK_HOME)")
    return jars


def _source_digest():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
                os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """`sbt compile` of the program at the checkout root, then of the
    harness against it. Skipped while the sources are unchanged."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: the program's sources (build.sbt, src/main/scala/graft) "
                 "are not next to perfbench/")
    stamp = os.path.join(STATE, "build.stamp")
    digest = _source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               SPARK_HOME=os.path.dirname(_spark_jars()))
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(STATE, "sbt-global"), "compile"]
    for cwd in (ROOT, HARNESS):
        log(f"perfbench: building {os.path.relpath(cwd, ROOT) or '.'}")
        r = subprocess.run(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=800)
        if r.returncode:
            sys.exit(f"perfbench: build failed in {cwd}")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    os.sync()  # flush the build's writes before anything is timed


# ---------------------------------------------------------------------
# one workload run
# ---------------------------------------------------------------------

def _harness(workload, seed, seconds, trace, data, work):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    cp = os.pathsep.join([os.path.join(HARNESS, "target", "scala-2.13", "classes"),
                          os.path.join(ROOT, "target", "scala-2.13", "classes"),
                          os.path.join(_spark_jars(), "*")])
    out = os.path.join(work, "harness.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *opens, "-Xms1g", "-Xmx1g", "-Xmn192m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--data", data, "--work", work, "--out", out,
           "--cpus", str(CPUS)]
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        deadline = time.time() + harness_timeout_s(seconds)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                sys.exit(f"perfbench: harness timed out; log in {logf.name}")
            time.sleep(0.05)
    rc = os.waitstatus_to_exitcode(status)
    if rc or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-4000:])
        sys.exit(f"perfbench: harness failed (exit {rc})")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = ru.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux
    return res


def _quantile(xs, q):
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res, items_per_op):
    ms = [o["ms"] for o in res["main"]]
    return {"setup_s": statistics.median(res["setup_s"]),
            "op_p50_ms": _quantile(ms, 0.5),
            "items_per_s": items_per_op * len(ms) / (sum(ms) / 1000.0),
            "peak_rss_mb": res["peak_rss_mb"]}


def per_layer(workload, res, manifest):
    traced = [o for o in res["main"] if o["traced"]]
    untraced = [o for o in res["main"] if not o["traced"]]
    m = {k: 0.0 for k in PER_LAYER}
    m["host.floor_ms"] = _mean(res["floor_ms"])
    # the first unit pays the JVM's warm-up on whichever side ran first
    warm = [o for o in traced + untraced if o["unit"] > 0] or traced + untraced
    m["trace.overhead_ratio"] = (sum(o["ms"] for o in warm if o["traced"]) /
                                 sum(o["ms"] for o in warm if not o["traced"]))
    for k in list(m):
        if k.startswith(("exec.", "catalyst.")):
            m[k] = _mean(o["trace"].get(k, 0.0) for o in traced)
    m["op.outside_jobs_ms"] = _mean(o["ms"] - o["trace"]["exec.wall_ms"] for o in traced)
    facts = res["facts"]
    report = {}
    if facts.get("resolve"):
        r = facts["resolve"].values()
        m["Tables.resolve_ms"] = _mean(t["ms"] for t in r)
        m["Tables.resolve_jobs"] = _mean(t["jobs"] for t in r)
        report["Tables.resolve_per_table"] = facts["resolve"]
    if workload == "analyst_queries":
        m["queries.build_ms"] = _mean(o["extra"]["build_ms"] for o in traced)
        m["queries.build_jobs"] = _mean(o["trace"].get("jobs.build", 0) for o in traced)
        report["queries.per_query"] = {o["name"]: {
            "build_ms": o["extra"]["build_ms"], "build_jobs": o["trace"].get("jobs.build", 0),
            "jobs": o["trace"]["exec.jobs"], "ms": o["ms"]} for o in traced}
    elif workload == "etl_daily":
        staged = sum(sum(manifest["staged_rows"][o["extra"]["day"] - 1].values())
                     for o in traced)
        loaded = sum(sum(o["extra"]["loaded"].values()) for o in traced)
        written = sum(sum(o["extra"]["mart"].values()) for o in traced)
        m["etl.OperationalLoad.run_ms"] = _mean(o["extra"]["load_ms"] for o in traced)
        m["etl.MartBuild.run_ms"] = _mean(o["extra"]["mart_ms"] for o in traced)
        m["etl.MartBuild.rows_written"] = written / len(traced)
        m["etl.MartBuild.rows_rewritten_ratio"] = written / loaded
        for k in ("readCsvPrefix_ms", "files_written", "bytes_written"):
            m["io.Staging." + k] = _mean(o["extra"][k] for o in traced)
        m["io.Staging.empty_files_written"] = sum(
            o["extra"]["empty_files_written"] for o in res["replay"])
        m["io.Staging.stored_bytes_per_input_byte"] = stored_ratio(res, manifest)
        report.update({"etl.OperationalLoad.rows_staged": staged / len(traced),
                       "etl.OperationalLoad.rows_loaded": loaded / len(traced),
                       "etl.OperationalLoad.new_row_ratio": loaded / staged})
    if workload == "corpus_curate":
        m["ext.CorpusPipeline.build_ms"] = _mean(o["extra"]["build_ms"] for o in traced)
        m["ext.CorpusPipeline.build_jobs"] = _mean(o["trace"].get("jobs.build", 0)
                                                   for o in traced)
        report["ext.CorpusPipeline.force_ms"] = _mean(
            o["ms"] - o["extra"]["build_ms"] for o in traced)
    elif "curate" in facts:  # analyst_queries: one curate call of the corpus
        c = facts["curate"]
        m["ext.CorpusPipeline.build_ms"] = c["build_ms"]
        m["ext.CorpusPipeline.build_jobs"] = c["build_jobs"]
        report["ext.CorpusPipeline.force_ms"] = c["force_ms"]
    if "stages" in facts:
        s = facts["stages"]
        for k in ("qualityFilter_ms", "exactDedup_ms", "nearDupFilter_ms"):
            m["ext.CorpusPipeline." + k] = s[k]
        m["ext.DedupOps.lsh_candidates"] = s["lsh_candidates"]
        m["ext.DedupOps.lsh_precision"] = s["verified_pairs"] / max(1, s["lsh_candidates"])
        report.update({"ext.CorpusPipeline." + k: s[k] for k in (
            "rows_in", "rows_after_quality", "rows_after_exact_dedup",
            "rows_after_near_dup")})
        report["ext.DedupOps.verified_pairs"] = s["verified_pairs"]
    return m, report


def stored_ratio(res, manifest):
    """Store plus mart bytes after the last full cycle, per staging CSV byte."""
    return res["facts"]["cycles"][-1]["stored_bytes"] / sum(manifest["csv_bytes"])


def run_one(workload, seed, seconds, trace):
    """Returns the result line and the metrics under their per-workload
    names; writes the full report next to the build state."""
    work = os.path.join(STATE, f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.time()
    if workload == "etl_daily":
        manifest = gen.gen_etl(data, seed, ETL_DAYS)
    elif workload == "analyst_queries":
        manifest = gen.gen_sf(data, seed)
        if trace:  # the traced run's ext.* layers curate this corpus
            manifest["corpus"] = gen.gen_corpus(os.path.join(data, "corpus"), seed)
    else:
        manifest = gen.gen_corpus(data, seed)
    log(f"perfbench: {workload} inputs generated in {time.time() - t0:.1f} s")
    res = _harness(workload, seed, seconds, trace, data, work)
    log(f"perfbench: harness done at {time.time() - t0:.1f} s")
    ops = res["ops"]
    res["main"] = [o for o in ops if o["kind"] != "replay"]
    res["replay"] = [o for o in ops if o["kind"] == "replay"]
    if workload == "analyst_queries":
        wrong, reasons = checks.analyst(ops, res["facts"], data, work)
    elif workload == "corpus_curate":
        wrong, reasons = checks.corpus(ops, res["facts"], data)
    else:
        wrong, reasons = checks.etl(ops, manifest)
    log(f"perfbench: checks done at {time.time() - t0:.1f} s")
    failed = sum(1 for i, o in enumerate(ops) if not o["ok"] or i in wrong)
    errors = {o["name"]: o["err"] for o in ops if not o["ok"]}
    items = (sum(manifest["rows_per_day"].values()) if workload == "etl_daily"
             else manifest["docs"] if workload == "corpus_curate" else 1)
    if trace:
        metrics, extra = per_layer(workload, res, manifest)
        units = PER_LAYER
    else:
        metrics, extra = end_to_end(res, items), {}
        units = END_TO_END
    named = named_metrics(workload, metrics, failed / len(ops), res, manifest, trace)
    report = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "inputs": manifest, "setup_s_samples": res["setup_s"],
              "floor_ms": res["floor_ms"], "attempted": len(ops), "failed": failed,
              "errors": errors, "check_failures": reasons, "metrics": metrics,
              "named": named, "layer_report": extra,
              "op_ms": [[o["name"], o["ms"], o["traced"]] for o in ops]}
    path = os.path.join(STATE, f"report-{workload}-seed{seed}-trace{trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    log(f"perfbench: report in {os.path.relpath(path, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    line = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    return line, named


def named_metrics(workload, m, failed_ratio, res, manifest, trace):
    """The end-to-end metrics under their per-workload names."""
    named = {"failed_ops_ratio": (failed_ratio, "ratio")}
    if trace:
        return named
    named["setup_s"] = (m["setup_s"], "s")
    named["peak_rss_mb"] = (m["peak_rss_mb"], "MB")
    if workload == "etl_daily":
        named["etl_batch_s"] = (m["op_p50_ms"] / 1000.0, "s")
        named["etl_rows_per_s"] = (m["items_per_s"], "rows/s")
        named["stored_bytes_per_input_byte"] = (stored_ratio(res, manifest), "B/B")
    elif workload == "analyst_queries":
        # printed, not a BENCHMARK.json metric: at run_seconds 30
        # one round gives 60 samples, six beyond p90 (see README)
        named["query_p50_ms"] = (m["op_p50_ms"], "ms")
        named["query_p90_ms"] = (_quantile([o["ms"] for o in res["main"]], 0.9), "ms")
        named["query_samples"] = (len(res["main"]), "count")
        named["queries_per_s"] = (m["items_per_s"], "1/s")
    else:
        named["curate_s"] = (m["op_p50_ms"] / 1000.0, "s")
        named["curate_docs_per_s"] = (m["items_per_s"], "docs/s")
    return named


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if bool(a.all) == bool(a.workload):
        ap.error("give exactly one of --workload or --all")
    build()
    os.makedirs(STATE, exist_ok=True)
    results = {}
    for w in WORKLOADS if a.all else [a.workload]:
        line, named = run_one(w, a.seed, a.seconds, a.trace)
        for k, (v, unit) in named.items():
            print(f"{w} {k} = {v:.6g} {unit}")
        if a.trace:
            for k, v in line["metrics"].items():
                print(f"{w} {k} = {v['value']:.6g} {v['unit']}")
        results[w] = line
    if a.all:
        line = {"correct": all(r["correct"] for r in results.values()),
                "attempted": sum(r["attempted"] for r in results.values()),
                "failed": sum(r["failed"] for r in results.values()),
                "metrics": {f"{w}.{k}": v for w, r in results.items()
                            for k, v in r["metrics"].items()}}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
