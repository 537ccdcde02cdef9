#!/usr/bin/env python3
"""graft layered benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload arrow_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the main classes and the runner
from source into `.bench_build/` (reused while the sources are
unchanged), generates the workload's inputs from the seed, runs them on
`local[<cores / 2>]` through graft's public entry points, checks every
op's output, and prints the run record followed, as the last line, by
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import collections
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import workloads as W  # noqa: E402

BUILD = ".bench_build"
SCALA = "2.13.17"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
             "sun.util.calendar"]
RUN_DEADLINE_S = 170
LAYERS = ("queries", "plan", "exec", "arrow.meta", "arrow.scan", "arrow.write",
          "arrow.commit", "arrow.dml", "arrow.maint", "streaming")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory: under $SPARK_HOME, else under the first
    installation on PATH whose `bin/spark-submit` sits next to the Scala
    compiler jar."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
            return jars
    die(f"no Spark installation with the Scala {SCALA} compiler; set SPARK_HOME")


def sources_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_scala(jars, srcs, classpath, out_dir, resources=None, depends=""):
    """scalac `srcs` into `out_dir` unless its stamp matches; returns the stamp."""
    extra = [] if resources is None else [
        p for p in glob.glob(f"{resources}/**/*", recursive=True) if os.path.isfile(p)]
    stamp = f"{SCALA}:{depends}:{sources_digest(srcs + extra)}"
    stamp_file = out_dir + ".stamp"
    if os.path.isdir(out_dir) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return stamp
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    lib = [os.path.join(jars, f"scala-{n}-{SCALA}.jar") for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(lib), "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", tmp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=sys.stderr)
        die(f"compiling {out_dir} failed")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def build(jars):
    main_srcs = glob.glob("src/main/scala/**/*.scala", recursive=True)
    if not main_srcs:
        die("no src/main/scala sources here; run from the repository root")
    bench_srcs = glob.glob(os.path.join(HERE, "src", "*.scala"))
    spark_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    main_out = os.path.join(BUILD, "main-classes")
    stamp = compile_scala(jars, main_srcs, spark_cp, main_out, resources="src/main/resources")
    bench_out = os.path.join(BUILD, "bench-classes")
    compile_scala(jars, bench_srcs, main_out + ":" + spark_cp, bench_out, depends=stamp)
    return [bench_out, main_out, os.path.join(jars, "*")]


def heap_mb():
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(1024, min(4096, kb // 4096))
    except (OSError, StopIteration):
        return 2048


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def task_threads(n_cores):
    """Spark task threads: half the cores. The JIT compiler threads keep
    several CPU-seconds of work per pass for a minute and more, and all
    cores' worth of task threads next to them run slower and swing more
    with what else the machine runs."""
    return max(1, n_cores // 2)


def run_jvm(classpath, plan_path, out_path, log_path, deadline):
    cmd = (["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", "--enable-native-access=ALL-UNNAMED",
            "-Dio.netty.tryReflectionSetAccessible=true", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.abspath(os.path.dirname(plan_path))}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", ":".join(classpath), "perfbench.Runner", plan_path, out_path])
    os.makedirs(os.path.join(os.path.dirname(plan_path), "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("runner exceeded its time limit")
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-40:]
        print("\n".join(tail), file=sys.stderr)
        die(f"runner exited with code {rc}")


def load_parity():
    path = os.path.join("tools", "parity.py")
    if not os.path.isfile(path):
        die("tools/parity.py (the oracle comparison rules) is missing")
    spec = importlib.util.spec_from_file_location("parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(data_dir, verify_dir, oracle_sql, names):
    """Failed query names: each verified result against its DuckDB oracle,
    compared by digest under tools/parity.py's canonical form."""
    import duckdb
    import pandas as pd
    parity = load_parity()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in parity.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.abspath(data_dir)}/{t}.parquet')")

    def digest(rows):
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    failed = {}
    for name in names:
        sql = oracle_sql.get(name)
        try:
            if sql is None:
                raise ValueError("no oracle SQL")
            banned = parity.type_audit(con, name, sql)
            if banned:
                raise ValueError(f"oracle has banned types {banned}")
            expected = digest(parity.canon(con.execute(sql).df()))
            got = digest(parity.canon(pd.read_parquet(os.path.join(verify_dir, name))))
            if got != expected:
                failed[name] = "result digest differs from the DuckDB oracle"
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failed[name] = str(e).splitlines()[0][:200] if str(e) else type(e).__name__
    return failed


def check_op(op, rec):
    """None when the op's recorded output matches the model, else why not."""
    if not rec["ok"]:
        return rec.get("error", "failed")
    if "expect" in op and rec["result"] != op["expect"]:
        return f"expected {op['expect'][:3]} got {rec['result'][:3]}"
    if "expect_net" in op:
        counts = dict(r.split("|") for r in rec["result"])
        net = sum(int(counts.get(k, 0)) for k in ("insert", "update_postimage")) \
            - sum(int(counts.get(k, 0)) for k in ("delete", "update_preimage"))
        if net != op["expect_net"]:
            return f"change feed nets {net} rows, model {op['expect_net']}"
    return None


def check_all(by_id, recs):
    """({op id: first failure reason}, number of failed records)."""
    failures, failed = {}, 0
    for rec in recs:
        why = check_op(by_id[rec["id"]], rec)
        if why:
            failures.setdefault(rec["id"], why)
            failed += 1
    return failures, failed


def end_to_end(spec, out, passes, setup_s, attempted, failed):
    by_id = {o["id"]: o for o in spec["pass_ops"]}
    reads, writes = collections.defaultdict(list), collections.defaultdict(list)
    read_cpu = collections.defaultdict(list)
    ingest_rows, ingest_s = 0, 0.0
    for p in passes:
        for r in p["ops"]:
            op = by_id[r["id"]]
            ms = r["t1"] - r["t0"]
            if op["cls"] == "read":
                reads[op["id"]].append(ms)
                read_cpu[op["id"]].append(r["cpu_ms"])
            elif op["cls"] == "write":
                writes[op["id"]].append(ms)
                if "rows" in op:
                    ingest_rows += op["rows"]
                    ingest_s += ms / 1000
    every = lambda by_op: [v for vs in by_op.values() for v in vs]  # noqa: E731
    e = {"setup_s": (setup_s, "s"),
         "pass_s": (M.median([(p["t1"] - p["t0"]) / 1000 for p in passes]), "s"),
         "pass_cpu_s": (M.median([p["cpu_ms"] / 1000 for p in passes]), "s"),
         "read_p50_ms": (M.median_of_medians(reads), "ms"),
         "read_cpu_p50_ms": (M.median_of_medians(read_cpu), "ms"),
         "read_p90_ms": (M.percentile(every(reads), 0.9), "ms"),
         "write_p50_ms": (M.median_of_medians(writes), "ms"),
         "write_p90_ms": (M.percentile(every(writes), 0.9), "ms"),
         "ingest_rows_per_s": (ingest_rows / ingest_s if ingest_s else None, "rows/s"),
         "retained_cache_mb": (out["retained_cache_mb"], "MB"),
         "fail_ratio": (failed / attempted, "ratio")}
    if spec["live_rows"]:
        stored = sum(b[0] + b[1] for b in out["stored"].values())
        e["stored_bytes_per_row"] = (stored / spec["live_rows"], "B/row")
    samples = {"read_ops": len(every(reads)), "write_ops": len(every(writes)),
               "passes": len(passes)}
    return {k: {"value": v, "unit": u} for k, (v, u) in e.items() if v is not None}, samples


def per_layer(spec, out, passes, cores_n):
    """Per-layer metrics of the traced passes, per pass where summed."""
    by_id = {o["id"]: o for o in spec["pass_ops"]}
    traced = [p for p in passes if p["traced"]]
    n = len(traced)
    pass_ms = sum(p["t1"] - p["t0"] for p in traced)
    ops = []
    for p in traced:
        for rec, (qs, js) in zip(p["ops"], M.attribute(p["ops"], p["queries"], p["jobs"])):
            ops.append(dict(M.op_spans(rec, qs, js), op=by_id[rec["id"]], rec=rec,
                            qs=qs, js=js, ms=rec["t1"] - rec["t0"], **{"pass": p["tag"]}))
    self_ms = collections.defaultdict(float)
    for o in ops:
        self_ms[o["op"]["layer"]] += o["self"]
        self_ms["plan"] += o["plan"]
        self_ms[o["op"]["job_layer"]] += o["job"]
    jobs = [j for o in ops for j in o["js"]]
    queries = [q for o in ops for q in o["qs"]]
    jobs_total = lambda k: sum(j[k] for j in jobs) / n  # noqa: E731
    # each traced pass against the mean of the untraced passes around it,
    # which cancels the warm-up trend that runs through the timed passes
    secs = [(p["t1"] - p["t0"]) / 1000 for p in passes]
    overhead = M.median([
        secs[i] / statistics.mean(secs[j] for j in (i - 1, i + 1) if 0 <= j < len(secs)) - 1
        for i, p in enumerate(passes) if p["traced"]])
    m = {
        "engine.session_ms": (out["session_ms"], "ms"),
        "engine.table_build_s": (out["table_build_s"], "s"),
        "plan.analysis_ms": (M.phase_ms(queries, "analysis") / n, "ms"),
        "plan.optimizer_ms": (M.phase_ms(queries, "optimization") / n, "ms"),
        "plan.physical_ms": (M.phase_ms(queries, "planning") / n, "ms"),
        "plan.share": (self_ms["plan"] / pass_ms, "ratio"),
        "exec.jobs": (len(jobs) / n, "count"),
        "exec.stages": (jobs_total("stages"), "count"),
        "exec.tasks": (jobs_total("tasks"), "count"),
        "exec.task_cpu_s": (jobs_total("cpu_ns") / 1e9, "s"),
        "exec.gc_s": (jobs_total("gc_ms") / 1000, "s"),
        "exec.shuffle_write_bytes": (jobs_total("shuffle_write"), "B"),
        "exec.shuffle_read_bytes": (jobs_total("shuffle_read"), "B"),
        "exec.spill_bytes": (jobs_total("spill"), "B"),
        "exec.cpu_util": (jobs_total("cpu_ns") / 1e6 / (pass_ms / n * cores_n), "ratio"),
        "cache.storage_mb.max": (max(o["rec"].get("storage_mb", 0.0) for o in ops), "MB"),
        "cache.rdds_cached.max": (max(o["rec"].get("rdds_cached", 0) for o in ops), "count"),
        "cache.heap_mb_post_gc": (M.median([p["heap_mb_post_gc"] for p in traced]), "MB"),
        "trace.overhead_share": (overhead, "ratio"),
    }
    for layer in LAYERS:
        m[f"self_share.{layer}"] = (self_ms[layer] / pass_ms, "ratio")

    def med(name, unit, pred, value):
        v = M.median([value(o) for o in ops if pred(o["op"])])
        if v is not None:
            m[name] = (v, unit)

    def plan_ms(o):
        return M.phase_ms(o["qs"], "optimization") + M.phase_ms(o["qs"], "planning")

    reads = [o for o in ops if o["op"].get("table_ref")]
    med("arrow.meta.load_ms", "ms", lambda op: op.get("table_ref"),
        lambda o: M.phase_ms(o["qs"], "analysis"))
    for ref in sorted({o["op"]["table_ref"] for o in reads}):
        med(f"arrow.meta.plan_ms.{ref}", "ms",
            lambda op, ref=ref: op.get("table_ref") == ref, plan_ms)
    med("arrow.meta.driver_ms", "ms",
        lambda op: op["layer"].startswith("arrow") and op["cls"] != "none",
        lambda o: o["ms"] - o["job"])
    med("arrow.commit.append_driver_ms", "ms", lambda op: op["id"].startswith("append"),
        lambda o: o["ms"] - o["job"])
    for name, pred in (("streaming.replicate_ms", lambda op: op["kind"] == "replicate"),
                       ("streaming.view_maintain_ms", lambda op: op["kind"] == "maintain"),
                       ("streaming.cdf_read_ms", lambda op: op["kind"] == "cdf"),
                       ("arrow.maint.compact_ms", lambda op: op["id"].startswith("compact")),
                       ("arrow.maint.vacuum_ms", lambda op: op["id"].startswith("vacuum")),
                       ("arrow.dml.delete_ms", lambda op: op.get("dml") == "delete"),
                       ("arrow.dml.update_ms", lambda op: op.get("dml") == "update"),
                       ("arrow.dml.merge_ms", lambda op: op.get("dml") == "merge")):
        med(name, "ms", pred, lambda o: o["ms"])

    # scan side: full scans give throughput, selective reads the pruning ratios
    matched = lambda o: int(o["op"]["expect"][0].split("|")[0])  # noqa: E731
    for ref in sorted({o["op"]["table_ref"] for o in reads}):
        full = [o for o in reads if o["op"]["table_ref"] == ref
                and o["op"]["shape"] == "full" and o["rec"]["ok"]]
        if full:
            m[f"arrow.scan.rows_per_s.{ref}"] = (
                sum(map(matched, full)) / (sum(o["ms"] for o in full) / 1000), "rows/s")
    if reads:
        m["arrow.scan.task_cpu_s"] = (sum(j["cpu_ns"] for o in reads for j in o["js"]) / 1e9 / n, "s")
    partitions = lambda o: sum(q["scan_partitions"] for q in o["qs"])  # noqa: E731
    full_parts = {}
    for o in reads:
        if o["op"]["shape"] == "full":
            ref = o["op"]["table_ref"]
            full_parts[ref] = max(full_parts.get(ref, 0), partitions(o))
    selective = [o for o in reads if o["op"]["shape"] == "range"
                 and full_parts.get(o["op"]["table_ref"])]
    if selective:
        m["arrow.scan.files_read_share"] = (M.median(
            [partitions(o) / full_parts[o["op"]["table_ref"]] for o in selective]), "ratio")
        rows = sum(map(matched, selective))
        if rows:
            m["arrow.scan.rows_examined_per_row_returned"] = (
                sum(q["scan_rows"] for o in selective for q in o["qs"]) / rows, "ratio")

    # write side: growth of the op's table directory across each write op;
    # a pass writes fresh tables, so growth is measured from its start
    acc, last = collections.defaultdict(float), {}
    for o in ops:
        op, rec = o["op"], o["rec"]
        if "bytes" not in rec:
            continue
        prev = last.get((o["pass"], op.get("table")), (0, 0, 0))
        last.update({(o["pass"], t): b for t, b in rec["bytes"].items()})
        if "table" not in op:
            continue
        d_data, d_meta, d_files = (a - b for a, b in zip(rec["bytes"][op["table"]], prev))
        if op["id"].startswith("append"):
            c = op["codec"]
            acc[f"rows.{c}"] += op["rows"]
            acc[f"data.{c}"] += d_data
            acc[f"secs.{c}"] += o["ms"] / 1000
            acc["append_files"] += d_files
            acc["appends"] += 1
        if op.get("commits") == "main":
            acc["meta_bytes"] += d_meta
            acc["commits"] += 1
        if "dml" in op:
            acc["dml_bytes"] += max(0, d_data + d_meta)
            acc["dml_rows"] += op["changed"]
            acc["dml_jobs"] += len(o["js"])
            acc["dml_ops"] += 1
        if op["id"].startswith("compact"):
            acc["rewritten"] += max(0, d_data) / n
        if op["id"].startswith("vacuum"):
            acc["reclaimed"] += max(0, -(d_data + d_meta)) / n
        if op["kind"] in ("replicate", "maintain"):
            acc["maint_jobs"] += len(o["js"])
            acc["maint_ops"] += 1
    for c in W.CODECS:
        if acc[f"rows.{c}"]:
            m[f"arrow.write.rows_per_s.{c}"] = (acc[f"rows.{c}"] / acc[f"secs.{c}"], "rows/s")
            m[f"arrow.write.bytes_per_row.{c}"] = (acc[f"data.{c}"] / acc[f"rows.{c}"], "B/row")
    for name, num, den, unit in (
            ("arrow.write.files_per_commit", "append_files", "appends", "count"),
            ("arrow.commit.meta_bytes_per_epoch", "meta_bytes", "commits", "B"),
            ("arrow.dml.bytes_written_per_row_changed", "dml_bytes", "dml_rows", "B/row"),
            ("arrow.dml.jobs_per_commit", "dml_jobs", "dml_ops", "count"),
            ("streaming.jobs_per_maintain", "maint_jobs", "maint_ops", "count")):
        if acc[den]:
            m[name] = (acc[num] / acc[den], unit)
    if any(o["op"]["id"].startswith("compact") for o in ops):
        m["arrow.maint.bytes_rewritten"] = (acc["rewritten"], "B")
        m["arrow.maint.bytes_reclaimed"] = (acc["reclaimed"], "B")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_DEADLINE_S

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = json.load(f)
    jars = spark_jars()
    classpath = build(jars)
    # build time is not set-up time: a checkout builds once, then reuses
    deadline = max(deadline, time.time() + 150)

    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, work_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work_dir)
    try:
        t_setup = time.time()
        spec = W.WORKLOADS[args.workload](args.seed, data_dir)
        datagen_s = time.time() - t_setup
        n_cores = task_threads(cores())
        plan = dict(workload=args.workload, seconds=args.seconds, trace=bool(args.trace),
                    cores=n_cores, data_dir=data_dir, work_dir=work_dir,
                    setup=spec["setup"], warm=spec["warm_ops"], tables=spec["tables"],
                    shared_tables=spec["shared_tables"], **{"pass": spec["pass_ops"]})
        if spec.get("oracle_names"):
            plan["oracle_names"] = spec["oracle_names"]
        plan_path, out_path = os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "out.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        run_jvm(classpath, plan_path, out_path, os.path.join(run_dir, "runner.log"), deadline)
        with open(out_path) as f:
            out = json.load(f)
        setup_s = out["ready_ms"] / 1000 - t_setup
        out["table_build_s"] = datagen_s + out["table_build_ms"] / 1000

        # correctness: every op record against the model, plus the oracle
        by_id = {o["id"]: o for o in spec["setup"] + spec["warm_ops"] + spec["pass_ops"]}
        final = [out["final"]] if "final" in out else []
        all_recs = out["setup_ops"] + [r for p in out["warm"] + out["passes"] + final
                                       for r in p["ops"]]
        failures, failed = check_all(by_id, all_recs)
        attempted = len(all_recs)
        # query results of the first, cold pass and of the last, warm one
        for tag in ("warm0", "final") if spec.get("oracle_names") else ():
            bad = oracle_check(data_dir, os.path.join(work_dir, "verify", tag),
                               out.get("oracle_sql", {}), spec["oracle_names"])
            attempted += len(spec["oracle_names"])
            failed += len(bad)
            failures.update({f"oracle:{tag}:{k}": v for k, v in bad.items()})
        for k, v in sorted(failures.items()):
            print(f"perfbench: FAILED {k}: {v}", file=sys.stderr)

        untraced = [p for p in out["passes"] if not p["traced"]]
        e2e, samples = end_to_end(spec, out, untraced, setup_s, attempted, failed)
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "client": "closed loop, 1 client", "master": f"local[{n_cores}]",
                  "heap_mb": heap_mb(), "weather": out["weather"], "samples": samples,
                  "warm_pass_s": [(p["t1"] - p["t0"]) / 1000 for p in out["warm"]],
                  "pass_s_all": [(p["t1"] - p["t0"]) / 1000 for p in out["passes"]],
                  "pass_cpu_s_all": [p["cpu_ms"] / 1000 for p in out["passes"]],
                  "pass_jit_s_all": [p["jit_ms"] / 1000 for p in out["passes"]],
                  "failed_ops": sorted(failures), "end_to_end": e2e}
        if args.trace:
            layers = per_layer(spec, out, out["passes"], n_cores)
            record["per_layer"] = layers
            # a layer that did no work on this workload reads 0
            chosen = {m["name"]: layers.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                      for m in declared["per_layer"]}
        else:
            chosen = {m["name"]: e2e[m["name"]] for m in declared["end_to_end"]}
        print(json.dumps(record))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": chosen}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
