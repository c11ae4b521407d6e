#!/usr/bin/env python3
"""Benchmark of the graft engine: SwivelMain from corpus to `.pb` shards on a
long-document corpus, and a set of operator keys fully materialized.

    python3 perfbench/run.py --workload swivel_long --seed 1 --seconds 30 --trace 0

Run it from the repository root. It builds the engine and the harness from
source (cached under .bench_build/), makes the workload's inputs from the
seed, runs the JVM harness in one process with local[<cores>], checks every
output, and prints one JSON line last: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, from a separate traced run whose
spans are kept in .bench_build/traces/. The exit code is 0 only when every
operation succeeded and its output was correct. perfbench/README.md lists
the metrics and what each should move.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(BUILD, "cache")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

# fixed, pre-touched heap: peak RSS then reads the heap plus native memory
# and does not follow the collector's sizing choices
HEAP = "2g"
# the harness's first operations warm the JVM up: checked, but not timed
WARMUP_OPS = 2
# 64k tokens put ~1400 word types at min_count, mid-way between the
# truncation steps of 1280 and 1536, so no seed changes the vocab size
CORPUS = {"tokens": 64_000, "types": 50_000, "zipf_s": 1.0}
MEAN_DOC_TOKENS = 1000
SHARD, MIN_COUNT, WINDOW = 256, 5, 10
SWIVEL_ARGS = ["--input_format", "text", "--shard_size", str(SHARD), "--min_count",
               str(MIN_COUNT), "--window_size", str(WINDOW), "--output_format", "pb"]
WORKLOADS = ["swivel_long", "operator_suite"]

# The operator suite's keys, run in this (sorted) order: the two keys
# ROADMAP.md names that fit a run (graph_triangles, dedup_containment), two
# stream_* keys on the StreamOps layer, and one cheap key from each of six
# more graft.ops modules, Swivel's among them.
SUITE_KEYS = sorted([
    "dedup_containment", "fn_array", "graph_triangles", "pipeline_tpch_q6",
    "set_union_all", "sim_quantize", "stream_dedup", "stream_join",
    "swivel_vocab", "text_pii_scrub",
])
NAMED_KEYS = ["graph_triangles", "dedup_containment"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def build(home):
    """Compiles engine + harness when their sources changed; returns the
    classes directory."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    harness = os.path.join(HERE, "harness")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala/graft) not found")
    classes = os.path.join(BUILD, "harness-target", "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "build.stamp")
    key = tree_digest(engine, os.path.join(harness, "src"), os.path.join(harness, "build.sbt"))
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    if not shutil.which("sbt"):
        fail("sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=harness, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def java_cmd(home, classes, run_dir):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log4j = os.path.join(HERE, "harness", "log4j2.properties")
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={log4j}",
             "-cp", f"{classes}:{os.path.join(home, 'jars', '*')}", "perfbench.Main"])


def median(xs):
    return statistics.median(xs) if xs else None


def dir_mb(d, skip=()):
    total = 0
    for base, subdirs, files in os.walk(d):
        subdirs[:] = [s for s in subdirs if s not in skip]
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 1048576.0


def end_to_end(res, ok):
    """Medians over the operations after the warm-up ones; set-up over all."""
    warm = [r for r in ok if r in res["reps"][WARMUP_OPS:]]
    return {"setup_s": median([r["setup_s"] for r in res["reps"]]),
            "wall_s": median([r["wall_s"] for r in warm]),
            "peak_rss_mb": res["peak_rss_mb"],
            "output_mb": median([r["output_mb"] for r in ok])}


def overhead(reps):
    """Traced over untraced median wall time, minus 1, warm-up excluded."""
    traced = [r["wall_s"] for r in reps[WARMUP_OPS:] if r["traced"]]
    plain = [r["wall_s"] for r in reps[WARMUP_OPS:] if not r["traced"]]
    return median(traced) / median(plain) - 1


def swivel_eval(res, corpus, con, trace):
    """(attempted, failed, end-to-end metrics, per-layer metrics)."""
    vocab = checks.swivel_reference(con, corpus, MIN_COUNT, SHARD, WINDOW)
    ok = []
    failed = 0
    for r in res["reps"]:
        errs = ([r["error"]] if "error" in r else
                checks.check_swivel(con, r["out_dir"], vocab, SHARD, res["decoded"]))
        if errs:
            failed += 1
            print(f"FAIL {r['out_dir']}: {'; '.join(errs)}", file=sys.stderr)
        else:
            r["output_mb"] = dir_mb(r["out_dir"], skip=("decoded",))
            ok.append(r)
    attempted = len(res["reps"])
    e2e = end_to_end(res, ok)
    layer = {}
    if trace and len(ok) == attempted:
        traced = [r for r in ok if r["traced"]]
        for k in traced[0]:
            if k.startswith("spark."):
                layer[k] = median([r[k] for r in traced])
        lay = res["layers"]
        layer.update(lay)
        layer["swivel.pair_joins"] = median([r["pair_joins"] for r in traced])
        layer["sources.bytes_per_cell"] = (median([r["output_mb"] for r in traced])
                                           * 1048576.0 / lay["swivel.cells"])
        layer["trace.overhead_share"] = overhead(res["reps"])
        # the layer run is one more operation; its counts must match the reference
        attempted += 1
        want = checks.swivel_counts(con)
        bad = {k: (lay[f"swivel.{k}"], v) for k, v in want.items() if lay[f"swivel.{k}"] != v}
        if bad:
            failed += 1
            print(f"FAIL layer counts (got, reference): {bad}", file=sys.stderr)
    return attempted, failed, e2e, layer


def suite_layer(p, module_of):
    """Per-layer metrics of one traced pass."""
    keys = {r["key"]: r for r in p["keys"]}
    layer = {k: v for k, v in p.items() if k.startswith(("spark.", "ops."))}
    for m in sorted(set(module_of[k] for k in keys)):
        layer[f"ops.{m}_s"] = sum(r["wall_s"] for k, r in keys.items() if module_of[k] == m)
    wall = sum(r["wall_s"] for r in keys.values())
    layer["ops.driver_self_share"] = sum(r["self_s"] for r in keys.values()) / wall
    cold = [r for r in keys.values() if r["cold_work"] > 0]
    layer["ops.cold_work"] = sum(r["cold_work"] for r in keys.values())
    layer["ops.cold_keys"] = len(cold)
    layer["ops.cold_key_s"] = sum(r["wall_s"] for r in cold)
    layer["ops.tmp_mb"] = p["tmp_mb"]
    for k in NAMED_KEYS:
        layer[f"ops.key.{k}_s"] = keys[k]["wall_s"]
    stream = [r for k, r in keys.items() if k.startswith("stream_")]
    layer["streaming.keys_s"] = sum(r["wall_s"] for r in stream)
    layer["streaming.jobs"] = sum(r["jobs"] for r in stream)
    return layer


def suite_eval(res, tables_dir, data_digest, con, trace):
    checks.suite_views(con, tables_dir, inputs.TABLES)
    oracle_sql = res["oracle_sql"]
    sql_digest = inputs.digest(oracle_sql)
    exp = checks.expected(con, oracle_sql, SUITE_KEYS,
                          os.path.join(CACHE, f"oracle-{data_digest}-{sql_digest}.json"))
    attempted = failed = 0
    rows = {}
    ok = []
    for p in res["reps"]:
        bad = 0
        for rec in p["keys"]:
            k = rec["key"]
            attempted += 1
            if "error" in rec:
                err = rec["error"]
            else:
                got = checks.output_record(con, os.path.join(p["out_dir"], k))
                err = checks.check_key(got, exp.get(k))
                if err is None and k not in exp and rows.setdefault(k, got["rows"]) != got["rows"]:
                    err = f"{got['rows']} rows, another pass had {rows[k]}"
            if err:
                bad += 1
                print(f"FAIL {k} (pass {p['out_dir']}): {err}", file=sys.stderr)
        failed += bad
        p["output_mb"] = dir_mb(p["out_dir"])
        if not bad:
            ok.append(p)
    e2e = end_to_end(res, ok)
    layer = {}
    if trace and not failed:
        per_pass = [suite_layer(p, res["module_of"]) for p in res["reps"] if p["traced"]]
        layer = {k: median([x[k] for x in per_pass]) for k in per_pass[0]}
        layer["trace.overhead_share"] = overhead(res["reps"])
    return attempted, failed, e2e, layer


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    home = spark_home()
    classes = build(home)
    os.makedirs(CACHE, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        harness_args = ["--workload", a.workload, "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--cores", str(cores), "--run_dir", run_dir]
        if a.workload == "swivel_long":
            params = {**CORPUS, "mean_doc_tokens": MEAN_DOC_TOKENS}
            corpus, input_digest = inputs.corpus(a.seed, params, CACHE)
            harness_args += ["--input", corpus, "--swivel_args", " ".join(SWIVEL_ARGS)]
        else:
            tables, input_digest = inputs.suite_tables(a.seed, CACHE)
            harness_args += ["--input", tables, "--keys", ",".join(SUITE_KEYS)]
        log = os.path.join(run_dir, "harness.log")
        t0 = time.time()
        with open(log, "w") as out:
            proc = subprocess.run(java_cmd(home, classes, run_dir) + harness_args, cwd=run_dir,
                                  stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=170)
        result_path = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"harness exited with {proc.returncode}", 1)
        with open(result_path) as f:
            res = json.load(f)
        t1 = time.time()
        con = checks.connect()
        if a.workload == "swivel_long":
            attempted, failed, e2e, layer = swivel_eval(res, corpus, con, a.trace)
        else:
            attempted, failed, e2e, layer = suite_eval(res, tables, input_digest, con, a.trace)
        print(f"perfbench: harness {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s",
              file=sys.stderr)
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}-{res['run_id']}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    # per-layer metrics of a layer this workload does not run read 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    correct = failed == 0 and all(v["value"] is not None for v in metrics.values())
    print(json.dumps({"workload": a.workload, "seed": a.seed, "input_digest": input_digest,
                      "run_id": res["run_id"]}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
