#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload queries|ingest \
        --seed N --seconds S --trace 0|1

It builds the engine with the benchmark (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the JVM side
(perfbench.Main) in one process on local[nproc], checks every result, and
prints the metrics. The run's raw record, with every operation and span,
is left in .bench_build/last-<workload>-trace<0|1>.json. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("queries", "ingest")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(classes, workload, data, ingest, out, seconds, seed, trace):
    work = os.path.dirname(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, build.spark_jars()])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--data", data,
            "--ingest", ingest, "--out", out, "--seconds", str(seconds),
            "--period", str(gen.PERIOD_S),
            "--seed", str(seed), "--trace", str(trace)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            env=env, text=True)
    try:
        log, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark JVM timed out")
    path = os.path.join(out, "raw.json")
    if proc.returncode != 0 or not os.path.isfile(path):
        sys.stderr.write(log[-4000:])
        raise SystemExit(f"benchmark JVM failed with code {proc.returncode}")
    with open(path) as f:
        return json.load(f)


def dir_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def spark_layer(ops, rows_out):
    """spark.* per-layer metrics: means per traced operation."""
    tr = [o for o in ops if o.get("traced") and "jobs" in o and o["kind"] != "count"]
    n = max(1, len(tr))

    def mean(key):
        return sum(o[key] for o in tr) / n
    walls = []
    for o in tr:
        e0, e1 = o["epoch_ms"]
        walls.append(stats.interval_union(stats.clip([tuple(s) for s in o["stage_spans"]], e0, e1)))
    gaps = [o["s"] * 1000.0 - w for o, w in zip(tr, walls)]
    read = sum(o["records_read"] for o in tr if o["req"] in rows_out)
    out_rows = sum(rows_out[o["req"]] for o in tr if o["req"] in rows_out)
    return {
        "spark.plan_ms": mean("plan_ms"),
        "spark.stage_wall_ms": sum(walls) / n,
        "spark.driver_gap_ms": sum(gaps) / n,
        "spark.jobs": mean("jobs"), "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.task_run_ms": mean("task_run_ms"),
        "spark.task_cpu_ms": mean("task_cpu_ms"),
        "spark.codegen_compiles": mean("codegen_compiles"),
        "spark.rows_read_per_row_out": read / out_rows if out_rows else 0.0,
        "spark.gc_ms": mean("gc_ms"),
        "spark.failed_tasks": float(sum(o["failed_tasks"] for o in tr)),
    }


def module_seconds(spans, reqs, per, layer):
    """operators.<Module>.s: self time of the module's spans in the given
    requests, per pass (queries) or per batch (ingest)."""
    self_s = stats.self_times(spans)
    for s in spans:
        if s["layer"] == "operators" and s["req"] in reqs:
            key = f"operators.{s['name']}.s"
            layer[key] = layer.get(key, 0.0) + self_s[s["id"]] / 1e9 / max(1, per)


def query_metrics(raw, res, out_dir, data_dir, trace):
    ops = raw["ops"]
    q = [o for o in ops if o["kind"] == "query" and o["ok"] and not o["traced"]]
    passes = {}
    for o in q:
        passes.setdefault(o["pass"], []).append(o["s"])
    n_q = len(raw["queries"])
    totals = [sum(v) for v in passes.values() if len(v) == n_q]
    lat = [o["s"] for o in q]
    search = [o["s"] * 1000.0 for o in ops if o["kind"] == "search" and o["ok"] and not o["traced"]]
    res["end"].update({
        # a closed loop's next query is due when the previous one ends
        "total_s": stats.median(totals),
        "bulk_s": raw["bulk_s"],
        "search_p50_ms": stats.median(search),
        "stored_bytes_per_input_byte":
            dir_bytes(os.path.join(out_dir, "results")) /
            sum(os.path.getsize(p) for p in glob.glob(os.path.join(data_dir, "*.parquet"))),
    })
    res["info"].update({"passes": len(totals), "latency_p50_s": stats.median(lat),
                        "latency_tail_s": stats.tail(lat), "searches": len(search),
                        "search_tail_ms": stats.tail(search)})
    if not trace:
        return
    rows = {o["name"]: pq.ParquetDataset(os.path.join(out_dir, "results", o["name"])).read().num_rows
            for o in ops if o["kind"] == "bulk" and o["ok"]}
    rows_out = {o["req"]: rows.get(o["name"], 0) for o in ops if o["kind"] == "query"}
    layer = res["layer"]
    layer.update(spark_layer(ops, rows_out))
    traced_passes = {o["pass"] for o in ops if o["kind"] == "query" and o["traced"]}
    traced_reqs = {o["req"] for o in ops if o["kind"] == "query" and o["traced"]}
    module_seconds(raw["spans"], traced_reqs, len(traced_passes), layer)
    # materialized (all passes) against count, per query and per module
    mat, cnt, mod = {}, {}, {}
    for o in ops:
        if o["ok"] and o["kind"] in ("query", "count"):
            (mat if o["kind"] == "query" else cnt).setdefault(o["name"], []).append(o["s"])
            mod[o["name"]] = o["module"]
    by_mod = {}
    for name in cnt:
        m, c = stats.median(mat.get(name, [])), stats.median(cnt[name])
        if m > 0:
            layer[f"operators.count_over_materialized.{name.split('_')[0]}"] = c / m
            a = by_mod.setdefault(mod[name], [0.0, 0.0])
            a[0] += c
            a[1] += m
    for m, (c, t) in by_mod.items():
        layer[f"operators.count_over_materialized.{m}"] = c / t
    if by_mod:
        layer["operators.count_over_materialized"] = (
            sum(a[0] for a in by_mod.values()) / sum(a[1] for a in by_mod.values()))
    med = {}
    for o in ops:
        if o["kind"] == "query" and o["ok"]:
            med.setdefault((o["name"], o["traced"]), []).append(o["s"])
    on = sum(stats.median(v) for (n, t), v in med.items() if t)
    off = sum(stats.median(v) for (n, t), v in med.items() if not t and (n, True) in med)
    layer["bench.trace_overhead_pct"] = 100.0 * (on / off - 1.0) if off else 0.0


def ingest_metrics(raw, res, trace):
    ops = raw["ops"]
    deltas = [o for o in ops if o["kind"] == "batch" and "due" in o]
    late = stats.lateness([{"due": o["due"], "start": o["t0"], "end": o["t1"]} for o in deltas])
    lags = [x["lag"] / 1e9 for x in late]
    search = [o["s"] * 1000.0 for o in ops if o["kind"] == "search" and o["ok"] and not o["traced"]]
    ing = raw["ingest"]
    res["end"].update({
        # each delta's lag: from its due time until its chunks and both
        # index states are committed
        "total_s": sum(lags),
        "bulk_s": raw["bulk_s"],
        "search_p50_ms": stats.median(search),
        "stored_bytes_per_input_byte": ing["stored_bytes"] / ing["input_bytes"],
    })
    res["info"].update({"batches": len(deltas), "period_s": raw["period_s"],
                        "lag_s": [round(x, 3) for x in lags],
                        "service_s": [round(o["s"], 3) for o in deltas],
                        "target_lag_s": 60,
                        "warm_searches": sum(o["kind"] == "warm" for o in ops),
                        "searches": len(search),
                        "search_tail_ms": stats.tail(search)})
    if not trace:
        return
    layer = res["layer"]
    rows_out = {o["req"]: 10 for o in ops if o["kind"] == "search"}
    layer.update(spark_layer(ops, rows_out))
    traced = [o for o in deltas if o["traced"]]
    reqs = {o["req"] for o in ops if o["traced"] and o["kind"] in ("batch", "search") and o.get("batch", 0) > 0}
    module_seconds(raw["spans"], reqs, len(traced), layer)
    stage = {}
    for r in raw["stage_ms"]:
        if r["batch"] > 0:
            stage.setdefault(r["stage"], []).append(r["ms"])
    for key in ("to_download_ms", "store_ms", "merge_ms", "to_chunk_ms", "chunk_ms",
                "mark_ms", "enrich_ms"):
        layer[f"operators.Pipeline.{key}"] = stats.median(stage.get(key, []))
    layer["operators.Shred.shred_ms"] = stats.median(stage.get("shred_ms", []))
    layer["streaming.SearchIndexStream.merge_ms"] = stats.median(stage.get("search_merge_ms", []))
    layer["streaming.DedupIndexStream.merge_ms"] = stats.median(stage.get("dedup_merge_ms", []))
    calls = ing["parse_calls"]
    layer["sources.PdfText.extract_ms"] = ing["parse_ms"] / calls if calls else 0.0
    layer["sources.PdfText.calls_per_doc"] = calls / ing["parsed_docs"] if ing["parsed_docs"] else 0.0
    layer["sources.PdfText.empty_ratio"] = ing["parse_empty"] / calls if calls else 0.0
    layer["sources.BinaryStore.put_ms"] = stats.median([p["ms"] for p in ing["put_ms"]])
    layer["sources.BinaryStore.bytes"] = float(ing["store_bytes"])
    for key in ("state_rows", "state_bytes", "retained_bytes", "noop_batch_ratio"):
        layer[f"streaming.{key}"] = float(ing[key])
    layer["bench.gen_late_ms"] = max([x["gen_late"] / 1e6 for x in late] or [0.0])
    searches = [o for o in ops if o["kind"] == "search" and o["ok"]]
    s_on = [o["s"] for o in searches if o["traced"]]
    s_off = [o["s"] for o in searches if not o["traced"]]
    layer["bench.trace_overhead_pct"] = (
        100.0 * (stats.median(s_on) / stats.median(s_off) - 1.0) if s_on and s_off else 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = bench_spec()
    classes = build.build()
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        ingest = os.path.join(work, "ingest_in")
        t0 = time.time()
        if a.workload == "ingest":
            gen.write_ingest(ingest, a.seed, a.seconds)
        else:
            gen.write_tables(data, a.seed)
        t1 = time.time()
        out = os.path.join(work, "out")
        raw = run_jvm(classes, a.workload, data, ingest, out, a.seconds, a.seed, a.trace)
        # the raw record (every operation and span) outlives the work directory
        shutil.copy(os.path.join(out, "raw.json"),
                    os.path.join(build.BUILD_DIR, f"last-{a.workload}-trace{a.trace}.json"))
        t2 = time.time()
        res = {"end": {}, "layer": {}, "info": {"gen_s": round(t1 - t0, 2), "jvm_s": round(t2 - t1, 2)}}
        res["end"]["setup_s"] = stats.median(raw["setup_s"])
        res["end"]["mem_peak_mb"] = raw["mem_peak_mb"]
        failures = [(o["kind"], o["name"], o["error"]) for o in raw["ops"] if not o["ok"]]
        failures += [("check", c["name"], "wrong result") for c in raw["checks"] if not c["ok"]]
        attempted = len(raw["ops"]) + len(raw["checks"])
        if a.workload == "ingest":
            ingest_metrics(raw, res, a.trace)
        else:
            oracle_checks = oracle.check(os.path.join(out, "results"), data, raw["oracle"])
            res["info"]["oracle_s"] = round(time.time() - t2, 2)
            attempted += len(oracle_checks)
            failures += [("oracle", n, d) for n, ok, d in oracle_checks if not ok]
            query_metrics(raw, res, out, data, a.trace)
        layer_all = {m["name"]: 0.0 for m in spec["per_layer"]}
        left = [o for o in raw["ops"] if o["cached_left"] > 0]
        res["layer"]["spark.cached_blocks_left"] = float(sum(o["cached_left"] for o in left))
        for k in list(res["layer"]):
            if k in layer_all:
                layer_all[k] = res["layer"][k]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    end = {m["name"]: {"value": res["end"][m["name"]], "unit": m["unit"]}
           for m in spec["end_to_end"]}
    # the box stamp and the context of every metric
    print(f"# workload={a.workload} seed={a.seed} nproc={raw['nproc']} "
          f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())} "
          f"calib_ms={raw['calib_ms_start']:.1f},{raw['calib_ms_end']:.1f} "
          f"window_s={raw.get('window_s', 0):.2f} vm_hwm_mb={raw['vm_hwm_mb']:.0f}")
    print("# conf " + json.dumps(raw["conf"], sort_keys=True))
    for k, v in res["info"].items():
        if isinstance(v, tuple) and v[1] <= 50:  # a tail needs 21 samples or more
            print(f"# {k}: none above p50 with 10 samples beyond ({v[2]} samples)")
        elif isinstance(v, tuple):  # a tail: value, percentile, samples
            print(f"# {k}={v[0]:.6g} (p{v[1]:.1f} of {v[2]} samples)")
        else:
            print(f"# {k}={v}")
    for m in spec["end_to_end"]:
        print(f"# {m['name']} = {res['end'][m['name']]:.6g} {m['unit']}")
    print(f"# failed_ratio = {len(failures) / attempted:.6g} ({len(failures)} of {attempted})")
    for f in failures:
        print(f"# FAILED {f[0]} {f[1]}: {f[2]}")
    if left:
        print("# cached blocks left by: " + ", ".join(
            f"{o['name']}={o['cached_left']}" for o in left[:20]))
    if a.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer_all.items()}
    else:
        metrics = end
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
