#!/usr/bin/env python3
"""The repository benchmark: one seeded, closed-loop workload against the
engine, with every result checked, reported as one JSON line.

    python3 perfbench/run.py --workload interactive_query --seed 1 \\
        --seconds 8 --trace 0

Builds the engine and the harness from source on first use (sbt, in
perfbench/), generates the corpus from the seed, runs the JVM harness
(perfbench/src), checks the results against DuckDB, prints one report
line per metric and, as the last line, the result object. --trace 1
traces half of the operations and reports the per-layer metrics instead
of the end-to-end ones. See perfbench/README.md."""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, "traces")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "build.stamp")
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ["lake_ingest", "interactive_query"]
SCALE = 0.1  # corpus rows relative to sf0.1: 60k lineitem, 10k events
RUN_BUDGET_S = 160  # the harness's share of the 180 s a run may take

END_TO_END = {"setup_s": "s", "read_p50_s": "s", "ops_per_s": "1/s",
              "heap_peak_mb": "MB"}
# reported on stdout for the workloads they apply to; not in the result
WORKLOAD_ONLY = {"read_p90_s": "s", "commit_p50_s": "s", "commit_p90_s": "s",
                 "write_p50_s": "s", "ingest_rows_per_s": "1/s",
                 "bytes_stored_per_input_byte": "ratio"}
COUNT = "count"
PER_LAYER = {
    "fixtures.session_s": "s", "fixtures.prewarm_s": "s",
    "sources.commit_stage_s": "s", "sources.commit_publish_s": "s",
    "sources.commit_cas_s": "s", "sources.commit_ref_s": "s",
    "sources.commit_lost": COUNT,
    "sources.live_files_s": "s", "sources.manifests_read": COUNT,
    "sources.live_files": COUNT,
    "sources.data_files": COUNT, "sources.data_bytes": "B",
    "sources.meta_files": COUNT, "sources.meta_bytes": "B",
    "sources.fs_read_ops": COUNT, "sources.fs_write_ops": COUNT,
    "sources.fs_list_ops": COUNT,
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "scheduler.jobs": COUNT, "scheduler.stages": COUNT,
    "scheduler.tasks": COUNT, "scheduler.job_s": "s",
    "scheduler.task_delay_s": "s",
    "driver.only_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.input_bytes": "B", "executor.output_bytes": "B",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "B",
    "plans.exchanges": COUNT, "plans.broadcast_joins": COUNT,
    "plans.sort_merge_joins": COUNT, "plans.topk_nodes": COUNT,
    "plans.global_windows": COUNT,
    "functions.codegen_fallbacks": COUNT, "functions.wscg_subtrees": COUNT,
    "streaming.batches": COUNT, "streaming.batch_s": "s",
    "streaming.commit_s": "s",
    "operators.output_rows": COUNT,
    "ops_failed_frac": "ratio",
    "overhead.read_p50_s": "s", "overhead.ops_per_s": "1/s",
}
# per-operation layer metrics averaged over one kind of operation only
COMMIT_ONLY = {k for k in PER_LAYER if k.startswith("sources.commit_")}
READ_CURRENT_ONLY = {"sources.live_files_s", "sources.manifests_read",
                     "sources.live_files"}
TABLE_STATS = {"sources.data_files", "sources.data_bytes",
               "sources.meta_files", "sources.meta_bytes"}

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources missing ({ENGINE_SRC})")
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    print("[perfbench] building engine and harness (sbt compile)",
          file=sys.stderr, flush=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile"], cwd=HERE, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def spark_home():
    """$SPARK_HOME, or the Spark whose spark-submit is on the PATH (the
    lookup build.sbt makes)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def run_harness(a, corpus, out, deadline):
    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir)
    jvm_tmp = os.path.join(WORK, "jvm-tmp")
    os.makedirs(jvm_tmp)
    jars = os.path.join(spark_home(), "jars", "*")
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = ["java", *ADD_OPENS, "-XX:ReservedCodeCacheSize=512m",
           f"-Xmx{a.heap}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={jvm_tmp}",
           "-cp", CLASSES + os.pathsep + jars, "graft.perfbench.Harness",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), corpus,
           run_dir, out, cpus]
    jlog = os.path.join(WORK, "harness.log")
    with open(jlog, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=fh,
                               timeout=max(deadline - time.time(), 1))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(jlog) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"perfbench: harness failed ({code}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def check(raw, corpus):
    """Failures by key: keys whose dumped result differs from the DuckDB
    oracle (hash rule of scripts/check_oracle.py), keys that threw in the
    check pass, and, for lake_ingest, a final table that differs from the
    committed rows. Also returns the keys that have no oracle."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracle import TABLES, canon
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    fails, unchecked = {}, []
    for c in raw["checks"]:
        k = c["key"]
        if "err" in c:
            fails[k] = f"check pass threw: {c['err']}"
            continue
        if "oracle" not in c:
            unchecked.append(k)
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM '{raw['check_dir']}/{k}/*.parquet'").df())
            exp = canon(con.execute(c["oracle"]).df())
        except Exception as e:  # an unreadable dump or oracle is a failure
            fails[k] = f"check error: {e}"[:300]
            continue
        if list(got.columns) != list(exp.columns):
            fails[k] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            fails[k] = f"rowcount {len(got)} != {len(exp)}"
        elif not got.equals(exp):
            fails[k] = "value mismatch"
    final = raw.get("final_table")
    if final is not None:
        n, s = con.execute("SELECT count(*), sum(value::DECIMAL(18,2))::VARCHAR"
                           " FROM events").fetchone()
        days = {str(d): c for d, c in con.execute(
            "SELECT day(ts), count(*) FROM events GROUP BY 1").fetchall()}
        got = (final["rows"], final["sum_value"], final["per_day"])
        if got != (n, s, days):
            fails["appendCommit"] = (f"final table rows/sum/days {got[:2]} "
                                     f"!= committed {(n, s)}")
    return fails, unchecked


def op_metrics(ops, wall_s):
    """End-to-end latency and rate metrics over successful operations."""
    dur = {k: [(o["t1_us"] - o["t0_us"]) / 1e6 for o in ops
               if o["kind"] == k and "err" not in o]
           for k in ("read", "commit", "write")}
    m = {"read_p50_s": M.p50(dur["read"]), "read_p90_s": M.p90(dur["read"]),
         "commit_p50_s": M.p50(dur["commit"]),
         "commit_p90_s": M.p90(dur["commit"]),
         "write_p50_s": M.p50(dur["write"])}
    m["ops_per_s"] = len(ops) / wall_s if wall_s > 0 else None
    m["samples"] = {f"{k}_{q}_s": len(v) for k, v in dur.items()
                    for q in ("p50", "p90")}
    return m


def layer_metrics(raw, ops, spans):
    """Per-layer metrics of a traced run: each operation metric averaged
    over the traced operations it applies to."""
    traced = [o for o in ops if o["traced"]]
    out = {}
    for name in PER_LAYER:
        if name in COMMIT_ONLY:
            pool = [o for o in traced if o["kind"] == "commit"]
        elif name in READ_CURRENT_ONLY:
            pool = [o for o in traced if o["key"] == "readCurrent"]
        else:
            pool = traced
        vals = [o.get("layers", {}).get(name, 0.0) for o in pool]
        out[name] = sum(vals) / len(vals) if vals else 0.0
    jobs = {}
    for s in spans:
        if s["layer"] == "scheduler":
            jobs.setdefault(s["op"], []).append((s["start_us"], s["end_us"]))
    splits = [M.job_split(o["t0_us"], o["t1_us"], jobs.get(o["id"], []))
              for o in traced]
    if splits:
        out["scheduler.job_s"] = sum(j for j, _ in splits) / len(splits) / 1e6
        out["driver.only_s"] = sum(d for _, d in splits) / len(splits) / 1e6
    out["fixtures.session_s"] = raw["session_s"]
    out["fixtures.prewarm_s"] = raw["prewarm_s"]
    for name in TABLE_STATS:
        out[name] = float(raw.get(name.split(".", 1)[1], 0))
    return out


def summarize(a, raw, fails, input_bytes):
    ops = raw["ops"]
    failed = sum(1 for o in ops if "err" in o or o["key"] in fails)
    plain = [o for o in ops if not o["traced"]]
    wall = raw["wall_s"]
    if a.trace:
        # the untraced half alone: throughput from its own busy time
        wall = sum(o["t1_us"] - o["t0_us"] for o in plain) / 1e6
    e2e = op_metrics(plain, wall)
    e2e["setup_s"] = raw["setup_s"]
    e2e["heap_peak_mb"] = raw["heap_peak_mb"]
    e2e["ops_failed_frac"] = failed / len(ops)
    if a.workload == "lake_ingest":
        # the final table holds exactly the committed rows (checked above)
        e2e["ingest_rows_per_s"] = (raw["final_table"]["rows"]
                                    / raw["commit_loop_s"])
        e2e["bytes_stored_per_input_byte"] = (
            raw["data_bytes"] + raw["meta_bytes"]) / input_bytes
    layers = None
    if a.trace:
        traced = [o for o in ops if o["traced"]]
        busy = sum(o["t1_us"] - o["t0_us"] for o in traced) / 1e6
        t = op_metrics(traced, busy)
        layers = layer_metrics(raw, ops, raw["spans"])
        layers["ops_failed_frac"] = e2e["ops_failed_frac"]
        for k in ("read_p50_s", "ops_per_s"):
            layers[f"overhead.{k}"] = t[k] - e2e[k]
    return e2e, layers, failed


def write_trace(a, raw, layers):
    """Spans of the traced operations, their per-layer self time and the
    run's layer metrics, written to perfbench/traces/."""
    traced = {o["id"] for o in raw["ops"] if o["traced"]}
    idx = {i: s for i, s in enumerate(raw["spans"]) if s["op"] in traced}
    remap = {old: new for new, old in enumerate(idx)}
    spans = [dict(s, parent=remap.get(s["parent"], -1)) for s in idx.values()]
    self_s = M.self_times([{"layer": s["layer"], "start": s["start_us"],
                            "end": s["end_us"], "parent": s["parent"]}
                           for s in spans])
    os.makedirs(TRACES, exist_ok=True)
    path = os.path.join(TRACES, f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed,
                   "self_s_per_op": {k: v / 1e6 / max(len(traced), 1)
                                     for k, v in self_s.items()},
                   "layers": layers, "spans": spans}, fh)
    return path, self_s


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--heap", default="3g", help="driver heap (-Xmx)")
    a = p.parse_args()
    t_start = time.time()
    build()
    deadline = time.time() + RUN_BUDGET_S
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        corpus = os.path.join(WORK, "corpus")
        gen_corpus.write(corpus, SCALE, a.seed)
        input_bytes = os.path.getsize(os.path.join(corpus, "events.parquet"))
        raw = run_harness(a, corpus, os.path.join(WORK, "raw.json"), deadline)
        fails, unchecked = check(raw, corpus)
        e2e, layers, failed = summarize(a, raw, fails, input_bytes)
        samples = e2e.pop("samples")
        for k, v in e2e.items():
            if v is not None:
                unit = END_TO_END.get(k) or WORKLOAD_ONLY.get(k, "ratio")
                n = f" n={samples[k]}" if k in samples else ""
                print(f"metric {a.workload} {k} {v:.6g} {unit}{n}")
        if layers is not None:
            path, self_s = write_trace(a, raw, layers)
            for k in sorted(layers):
                print(f"layer {a.workload} {k} {layers[k]:.6g} {PER_LAYER[k]}")
            for k, v in sorted(self_s.items()):
                print(f"self_time {a.workload} {k} {v / 1e6:.6g} s")
            print(f"trace {os.path.relpath(path, ROOT)}")
        for k, why in sorted(fails.items()):
            print(f"failure {k}: {why}")
        for o in raw["ops"]:
            if "err" in o:
                print(f"failure {o['key']} ({o['id']}): {o['err']}")
        if unchecked:
            print(f"unchecked (no oracle) {' '.join(sorted(unchecked))}")
        print(f"ops attempted {len(raw['ops'])} failed {failed} "
              f"passes {raw['passes']} wall {raw['wall_s']:.3f}s "
              f"session {raw['session_s']:.3f}s prewarm {raw['prewarm_s']:.3f}s "
              f"check pass {raw['check_s']:.3f}s "
              f"run {time.time() - t_start:.1f}s")
        names = PER_LAYER if a.trace else END_TO_END
        source = layers if a.trace else e2e
        result = {"correct": failed == 0, "attempted": len(raw["ops"]),
                  "failed": failed,
                  "metrics": {k: {"value": source[k], "unit": names[k]}
                              for k in names}}
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
