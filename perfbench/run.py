#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the library and the harness from
source (once per source tree), generates the workload's inputs from the
seed, runs the JVM harness (perfbench/src/graft/perfbench/Main.scala), checks every
op's output against a DuckDB twin, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). The line before it is the full report: every metric
with its sample count, the environment and the box-health probe. Everything
it writes stays under perfbench/_work/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("serve_small", "train_pit_large", "corpus_prep")
HEAP = "3g"
JVM_TIMEOUT_S = 165
READ_KINDS = ("pit", "pull", "probe")
# train_pit_large stands in for a 100x larger training-set build, so both
# broadcast thresholds shrink 100x with it: the library's entity-side
# estimate (default 100 MB) and Spark's runtime one (default 10 MB). The
# plan then has the shape the full-size build gets at the defaults, and it
# does not flip between broadcast and sort-merge joins from seed to seed.
TRAIN_CONFS = {"graft.pit.broadcastBytes": str(1 << 20),
               "spark.sql.autoBroadcastJoinThreshold": str(100 << 10)}
# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jar_dir():
    """The Spark/Scala jars the repo's build.sbt compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    cands = ([m.group(1)] if m else []) + \
        ([os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else [])
    for d in cands:
        if os.path.isdir(d):
            return d
    fail("no Spark jars directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    lib = sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(ROOT, "src", "main", "scala"))
                 for f in fs if f.endswith(".scala"))
    if not lib:
        fail("src/main/scala has no sources: nothing to benchmark")
    bench = sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(HERE, "src"))
                   for f in fs if f.endswith(".scala"))
    return lib + bench


def build(jars):
    """Compiles library + harness with scalac into _work/classes, once per
    source tree (keyed by the sources' sha256)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jar_list = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    compiler = [j for j in jar_list if re.search(r"scala-(compiler|library|reflect)-", j)]
    argfile = os.path.join(WORK, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", ":".join(jar_list)] + srcs))
    t = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        f"-Djava.io.tmpdir={WORK}", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t:.1f}s", file=sys.stderr)
    open(stamp, "w").write(digest)
    return classes, digest


def load1():
    return float(open("/proc/loadavg").read().split()[0])


def box_probe_s():
    """Seconds to touch 100 MB of fresh pages (a slow first touch has
    inflated cold-JVM timings on snapshot-restored VMs)."""
    t = time.perf_counter()
    b = bytearray(100 << 20)
    for i in range(0, len(b), 4096):
        b[i] = 1
    return time.perf_counter() - t


def percentile_tail(xs):
    """Highest percentile with at least ten samples beyond it, or None."""
    n = len(xs)
    p = int(100 * (n - 10) / n) if n else 0
    if p <= 50:
        return None
    s = sorted(xs)
    return {"p": p, "value": s[min(n - 1, int(n * p / 100))], "n": n}


def metric(v, unit, n=None, **kw):
    d = {"value": v, "unit": unit}
    if n is not None:
        d["n"] = n
    d.update(kw)
    return d


def rows_in(workload, plan, data, op):
    """Input rows one op consumes: entity rows, probe keys and batch rows on
    the feature-store workloads; documents on corpus_prep."""
    import pyarrow.parquet as pq
    if workload == "serve_small":
        if op["kind"] == "pit":
            return pq.ParquetFile(os.path.join(data, op["entity"])).metadata.num_rows
        if op["kind"] == "probe":
            return len(op["keys"])
        if op["kind"] == "upsert":
            return op["batch_rows"]
        return 0
    if workload == "train_pit_large":
        return plan["rows"]["entity"]
    return plan["rows"]["documents"]


def end_to_end(workload, plan, data, res, ok, setup_s, gen_s, extra):
    timed = [r for r in res["ops"] if r["phase"] == "timed"]
    walls = [r["wall_s"] for r in timed]
    by_id = {o["id"]: o for o in plan["ops"]}
    # a traced run interleaves traced ops with the timed ones, so there the
    # window is the timed ops' own time
    if any(r["phase"] == "traced" for r in res["ops"]):
        span_s = sum(walls)
    else:
        span_s = max(r["t0_us"] / 1e6 + r["wall_s"] for r in timed) - timed[0]["t0_us"] / 1e6
    n_in = sum(rows_in(workload, plan, data, by_id[r["id"]]) for r in timed)
    failed = sum(1 for r in res["ops"] if not ok.get(r["seq"], False))
    m = {
        "setup_s": metric(setup_s, "s", 1),
        "op_p50_s": metric(statistics.median(walls), "s", len(walls)),
        "rows_per_s": metric(n_in / span_s, "rows/s", len(walls), input_rows=n_in),
        "peak_rss_mb": metric(res["peak_rss_kb"] / 1024.0, "MB", 1),
        "fail_frac": metric(failed / len(res["ops"]), "ratio", len(res["ops"])),
        "gen_s": metric(gen_s, "s", 1),
    }
    tail = percentile_tail(walls)
    if tail:
        m["op_tail_s"] = metric(tail["value"], "s", tail["n"], percentile=tail["p"])
    if workload == "serve_small":
        for name, kinds in (("read", READ_KINDS), ("write", ("upsert",))):
            xs = [r["wall_s"] for r in timed if by_id[r["id"]]["kind"] in kinds]
            m[f"{name}_p50_s"] = metric(statistics.median(xs), "s", len(xs))
            t = percentile_tail(xs)
            if t:
                m[f"{name}_tail_s"] = metric(t["value"], "s", t["n"], percentile=t["p"])
        m["space_amp"] = metric(extra["store_bytes"] / extra["compact_bytes"], "ratio", 1,
                                store_bytes=extra["store_bytes"],
                                compact_bytes=extra["compact_bytes"])
    return m


def uncovered_s(span, others):
    """Seconds of `span` that none of the `others` spans overlaps."""
    covered, end = 0, span[5]
    for c in sorted(others, key=lambda c: c[5]):
        a, b = max(c[5], end), min(c[6], span[6])
        if b > a:
            covered += b - a
            end = b
    return max(0, span[6] - span[5] - covered) / 1e6


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover. Returns {span id: seconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    return {s[0]: uncovered_s(s, kids.get(s[0], [])) for s in spans}


def per_layer(workload, plan, res, rows_out, cores, extra, names):
    traced = [r for r in res["ops"] if r["phase"] == "traced"]
    timed = [r for r in res["ops"] if r["phase"] == "timed"]
    by_id = {o["id"]: o for o in plan["ops"]}
    n = len(traced)
    cnt = res["op_counters"]
    spans = [s for s in res["spans"] if s[6] >= 0]
    sid = {s[0]: s for s in spans}
    selft = self_times(spans)

    def tot(k, ops=traced):
        return sum(cnt[str(r["seq"])].get(k, 0.0) for r in ops)

    def under(s, ancestor):
        while s and s[1]:
            if s[1] == ancestor:
                return True
            s = sid.get(s[1])
        return False

    def calls(layer, names_=None):
        return [s for s in spans if s[3] == layer and (names_ is None or s[4] in names_)]

    def mean_dur(ss):
        return sum((s[6] - s[5]) / 1e6 for s in ss) / len(ss) if ss else 0.0

    def jobs_under(ss):
        ids = {s[0] for s in ss}
        return [j for j in spans if j[3] == "engine" and any(under(j, i) for i in ids)]

    wall = sum(r["wall_s"] for r in traced)
    m = {}
    loads = calls("sources")
    m["sources.load_s"] = mean_dur(loads)
    m["sources.rows_read"] = tot("input_rows") / n
    m["sources.bytes_read"] = tot("input_bytes") / n
    out_rows = sum(rows_out.get(r["seq"], 0) for r in traced)
    m["sources.rows_read_per_row_out"] = tot("input_rows") / out_rows if out_rows else 0.0
    builds = calls("api", ("toDF",))
    m["api.build_s"] = mean_dur(builds)
    m["api.build_jobs"] = len(jobs_under(builds)) / len(builds) if builds else 0.0
    m["api.sink_s"] = mean_dur(calls("api", ("toArrowBatches", "toLocal", "persist")))
    for fn in ("upsertBatch", "readLatest", "pointInTime", "pullLatest", "trainBpeMerges",
               "bpeEncode", "crawlFullPipeline"):
        ss = calls("ops", (fn,))
        key = "ops.crawl_build_s" if fn == "crawlFullPipeline" else f"ops.{fn}_s"
        m[key] = mean_dur(ss)
        if fn in ("upsertBatch", "trainBpeMerges"):
            m[f"ops.{fn}.jobs"] = len(jobs_under(ss)) / len(ss) if ss else 0.0
    ups = calls("ops", ("upsertBatch",))
    m["ops.upsertBatch.fs_s"] = (sum(uncovered_s(s, jobs_under([s])) for s in ups) / len(ups)
                                 if ups else 0.0)
    up_ops = [r for r in traced if by_id[r["id"]]["kind"] == "upsert"]
    written = tot("output_bytes", up_ops)
    upserted = sum(by_id[r["id"]]["batch_rows"] for r in up_ops) * plan.get("bytes_per_event", 0)
    m["ops.store.bytes_written"] = written / len(up_ops) if up_ops else 0.0
    m["ops.store.write_amp"] = written / upserted if upserted else 0.0
    m["ops.store.files_live"] = float(extra.get("store_files_live", 0))
    m["spark.materialize.rdds"] = tot("materialize_rdds") / n
    m["spark.materialize.peak_bytes"] = max(cnt[str(r["seq"])].get("materialize_peak_bytes", 0.0)
                                            for r in traced)
    m["spark.materialize.leftover_rdds"] = sum(r["leftover_rdds"] for r in traced) / n
    for k in ("jobs", "stages", "tasks", "sched_delay_s", "task_s", "task_cpu_s", "gc_s"):
        m[f"engine.{k}"] = tot(k) / n
    m["engine.driver_only_s"] = (wall - tot("busy_s")) / n
    m["engine.core_util"] = tot("task_s") / (wall * cores)
    for k, src in (("shuffle.write_bytes", "shuffle_write_bytes"),
                   ("shuffle.read_bytes", "shuffle_read_bytes"),
                   ("shuffle.records", "shuffle_records"), ("shuffle.fetch_wait_s", "fetch_wait_s"),
                   ("spill.memory_bytes", "spill_memory_bytes"),
                   ("spill.disk_bytes", "spill_disk_bytes")):
        m[f"engine.{k}"] = tot(src) / n
    m["engine.task_retry_frac"] = tot("task_retries") / tot("tasks") if tot("tasks") else 0.0
    for name in names:
        if name.startswith("engine.op."):
            node, what = name[len("engine.op."):].rsplit(".", 1)
            m[name] = tot(f"node.{node}.{what}") / n
    for layer in ("bench", "sources", "api", "ops", "engine"):
        lay = [s for s in spans if s[3] == layer or (layer == "bench" and s[3] == "op")]
        m[f"{layer}.self_s"] = sum(selft[s[0]] for s in lay) / n
    m["op.wall_s"] = wall / n
    untraced = sum(r["wall_s"] for r in timed)
    m["trace.overhead_s"] = wall - untraced
    m["trace.overhead_frac"] = (wall - untraced) / untraced
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    t_start = time.time()
    bench_cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    jars = jar_dir()
    os.makedirs(WORK, exist_ok=True)
    classes, digest = build(jars)
    t_built = time.time()

    import check
    import gen
    env = {"nproc": os.cpu_count(), "load1_start": load1(), "box_probe_s": box_probe_s(),
           "seed": a.seed, "workload": a.workload, "seconds": a.seconds,
           "heap": HEAP, "source_sha256": digest}
    env["commit"] = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            env["commit"] = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], text=True,
                                           capture_output=True).stdout.strip() or None
        except OSError:
            pass
    data = os.path.join(WORK, "data", a.workload)
    run_dir = os.path.join(WORK, "run", a.workload)
    for d in (data, run_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    t = time.time()
    plan = gen.generate(a.workload, a.seed, data)
    gen_s = time.time() - t

    cores = os.cpu_count()
    params = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": bool(a.trace), "cores": cores, "data_dir": data, "work_dir": run_dir,
              "confs": TRAIN_CONFS if a.workload == "train_pit_large" else {}}
    with open(os.path.join(run_dir, "params.json"), "w") as f:
        json.dump(params, f)
    cp = classes + ":" + os.path.join(jars, "*")
    # a fixed, pre-touched heap: peak RSS then does not depend on when G1
    # grows the heap, only on off-heap memory
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-Xss4m", f"-Djava.io.tmpdir={run_dir}", "-Dspark.ui.enabled=false", *ADD_OPENS,
           "-cp", cp, "graft.perfbench.Main", os.path.join(run_dir, "params.json")]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    t_launch = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S - (t_launch - t_built))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM harness timed out; log: {run_dir}/jvm.log")
    t_jvm = time.time() - t_launch
    log.close()
    if rc != 0 or not os.path.isfile(os.path.join(run_dir, "result.json")):
        print(open(os.path.join(run_dir, "jvm.log")).read()[-4000:], file=sys.stderr)
        fail(f"JVM harness exited with {rc}")
    res = json.load(open(os.path.join(run_dir, "result.json")))
    setup_s = res["first_op_epoch_us"] / 1e6 - t_launch

    t = time.time()
    ok, rows_out, check_info = check.check(a.workload, data, run_dir, plan, res["ops"])
    check_s = time.time() - t
    env.update(res["env"])
    env.update({"load1_end": load1(), "check_s": check_s, **check_info})
    env["flags"] = [f for f, bad in (("slow_box_probe", env["box_probe_s"] > 1.0),
                                     ("load1_over_nproc",
                                      max(env["load1_start"], env["load1_end"]) > env["nproc"]))
                    if bad]
    e2e = end_to_end(a.workload, plan, data, res, ok, setup_s, gen_s, res["extra"])
    attempted = len(res["ops"])
    failed = sum(1 for r in res["ops"] if not ok.get(r["seq"], False))
    errors = sorted({r["error"] for r in res["ops"] if r["error"]})
    report = {"workload": a.workload, "env": env, "end_to_end": e2e, "errors": errors[:5],
              "ops": [[r["phase"], r["kind"], round(r["wall_s"], 4)] for r in res["ops"]]}
    if a.trace:
        names = [x["name"] for x in bench_cfg["per_layer"]]
        layers = per_layer(a.workload, plan, res, rows_out, cores, res["extra"], names)
        report["per_layer"] = layers
        metrics = {x["name"]: {"value": layers.get(x["name"], 0.0), "unit": x["unit"]}
                   for x in bench_cfg["per_layer"]}
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(res["spans"], f)
    else:
        metrics = {x["name"]: {"value": e2e[x["name"]]["value"], "unit": x["unit"]}
                   for x in bench_cfg["end_to_end"]}
    with open(os.path.join(WORK, f"report-{a.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    print(f"perfbench: gen {gen_s:.1f}s, jvm {t_jvm:.1f}s (setup {setup_s:.1f}s), "
          f"check {check_s:.1f}s, total {time.time() - t_start:.1f}s", file=sys.stderr)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
