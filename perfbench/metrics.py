"""Reduces the JVM's measurements to the benchmark's named metrics.

End-to-end metrics (--trace 0) come from untraced passes only. Per-layer
metrics (--trace 1) come from the traced passes' spans, averaged per
pass, plus the untraced warm pass that follows them for per-verb times.
"""
import json
import math
import os
import shutil
import statistics

VERBS = ["stream-merge-all", "stream-compact", "stream-dlq"]
QUERIES = ["pipeline_clean_corpus_minhash", "dedup_ngram_prefix", "dedup_components_star"]
KERNELS = ["graft_shingle_hashes", "graft_minhash_sig", "graft_text_stats", "graft_avro_decode"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def passes(res, mode):
    """{pass number: [op records]} for one pass mode."""
    out = {}
    for r in res["ops"]:
        if r["mode"] == mode:
            out.setdefault(r["pass"], []).append(r)
    return out


def pass_sums(res, mode, key="wall_s"):
    return [sum(r[key] for r in ops) for _, ops in sorted(passes(res, mode).items())]


# The verb whose micro-batches batch_p50_s is taken from: the stateful one,
# so state store and changelog writes sit in every sample, and one verb's
# batches have one cost, unlike a mix of three verbs.
LATENCY_VERB = "stream-compact"


def batch_times(res, mode, verb=None):
    ids = {r["span"] for r in res["ops"] if r["mode"] == mode and verb in (None, r["name"])}
    return [b["durations"]["triggerExecution"] / 1000.0 for b in res["batches"] if b["op"] in ids]


def end_to_end(res):
    warm = pass_sums(res, "warm")
    if res["workload"] == "topic_stream":
        lat = batch_times(res, "warm", LATENCY_VERB)
        batch = median(lat)
    else:
        # No micro-batches: the unit of work is one registry query. Each
        # query's median over the warm passes, combined by geometric mean, so
        # every query weighs the same; a median over all of them would be
        # the middle query's, and two queries of near-equal cost trade that
        # place from run to run.
        per_query = {}
        for r in res["ops"]:
            if r["mode"] == "warm":
                per_query.setdefault(r["name"], []).append(r["wall_s"])
        batch = math.exp(statistics.fmean(math.log(median(v)) for v in per_query.values()))
        lat = [x for v in per_query.values() for x in v]
        print("query p50: " + ", ".join(f"{q} {median(v):.4f} s" for q, v in per_query.items()))
    m = {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (pass_sums(res, "cold")[0], "s"),
        "pass_s": (median(warm), "s"),
        "pass_cpu_s": (median(pass_sums(res, "warm", "cpu_s")), "s"),
        "batch_p50_s": (batch, "s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }
    unit = (f"{LATENCY_VERB} micro-batches; {len(res['batches'])} micro-batches in the run"
            if res["workload"] == "topic_stream" else "queries")
    print(f"samples: {len(warm)} warm passes, {len(lat)} batch-latency samples ({unit}); "
          f"batch p90 {pctl(lat, 0.9):.4f} s")
    steal = [v for p, v in res["pass_steal"].items() if int(p) in passes(res, "warm")]
    print(f"cpu steal during the warm passes: {100 * median(steal):.1f}% of the box's cpu time")
    return m


def per_layer(res, build_dir):
    lay = res["layers"]
    spans = [json.loads(x) for x in open(res["spans_path"])]
    by_layer = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)
    ops = by_layer.get("op", [])
    n = max(1, len(by_layer.get("pass", [])))
    cores = res["cores"]

    def tot(key):
        return sum(s["counts"].get(key, 0.0) for s in ops)

    m = {}
    warm = passes(res, "warm")
    for v in VERBS:
        m[f"cli.{v}_s"] = (median([r["wall_s"] for p in warm.values() for r in p
                                   if r["name"] == v]), "s")
    for q in QUERIES:
        m[f"queries.{q}_s"] = (median([r["wall_s"] for p in warm.values() for r in p
                                       if r["name"] == q]), "s")
    traced = [r for r in res["ops"] if r["mode"] == "traced"]
    m["queries.build_s"] = (sum(r["build_s"] for r in traced) / n, "s")
    # jobs and SQL actions that ran inside the registry call itself
    span_by_id = {s["id"]: s for s in spans}
    build_end = {r["span"]: r["start_ms"] + 1000.0 * r["build_s"] for r in traced if r["build_s"]}

    def op_of(s):
        while s and s["layer"] != "op":
            s = span_by_id.get(s["parent"])
        return s

    build_jobs = build_sql = 0
    for s in spans:
        if s["layer"] in ("job", "sql"):
            o = op_of(s)
            if o and o["id"] in build_end and s["start_ms"] < build_end[o["id"]]:
                if s["layer"] == "job":
                    build_jobs += 1
                elif span_by_id.get(s["parent"], {}).get("layer") == "op":
                    build_sql += 1
    m["queries.build_jobs"] = (build_jobs / n, "count")
    m["sql.actions"] = (tot("sql_actions") / n, "count")
    for k, c in (("analysis", "analysis_ms"), ("optimize", "optimize_ms"),
                 ("planning", "planning_ms"), ("exec", "exec_ms")):
        m[f"sql.{k}_s"] = (tot(c) / n / 1000.0, "s")
    m["driver.nojob_s"] = (sum(lay["nojob_ms"].values()) / n / 1000.0, "s")
    traced_pass = median(lay["traced_pass_s"])
    m["spark.jobs"] = (tot("jobs") / n, "count")
    m["spark.stages"] = (tot("stages") / n, "count")
    m["spark.tasks"] = (tot("tasks") / n, "count")
    m["spark.sched_delay_s"] = (tot("sched_delay_ms") / n / 1000.0, "s")
    m["spark.task_deser_s"] = (tot("task_deser_ms") / n / 1000.0, "s")
    busy = tot("task_wall_ms") / n / 1000.0
    m["spark.core_busy_frac"] = (busy / (traced_pass * cores) if traced_pass else 0.0, "ratio")
    skew_n = tot("skew_n")
    m["spark.task_skew"] = (tot("skew_sum") / skew_n if skew_n else 1.0, "ratio")
    m["spark.task_retries"] = (tot("task_retries") / n, "count")
    m["spark.task_s"] = (tot("task_ms") / n / 1000.0, "s")
    m["spark.task_cpu_s"] = (tot("task_cpu_ns") / n / 1e9, "s")
    m["spark.gc_s"] = (tot("gc_ms") / n / 1000.0, "s")
    untraced = median(lay["untraced_pass_s"])
    one_core = median(lay["one_core_pass_s"])
    m["spark.core_scaling"] = (one_core / untraced if untraced else 0.0, "ratio")
    for k in KERNELS:
        m[f"functions.{k[6:]}_ns_row"] = (lay["kernels_ns_row"].get(k, 0.0), "ns")
    m["shuffle.exchanges"] = (tot("exchanges") / n, "count")
    m["shuffle.write_bytes"] = (tot("shuffle_write_bytes") / n, "B")
    m["shuffle.write_records"] = (tot("shuffle_write_records") / n, "count")
    m["shuffle.read_bytes"] = (tot("shuffle_read_bytes") / n, "B")
    m["shuffle.fetch_wait_s"] = (tot("fetch_wait_ms") / n / 1000.0, "s")
    m["shuffle.spill_mem_bytes"] = (tot("spill_mem_bytes") / n, "B")
    m["shuffle.spill_disk_bytes"] = (tot("spill_disk_bytes") / n, "B")
    cand, ver = tot("cand_rows") / n, tot("verified_rows") / n
    m["operators.cand_rows"] = (cand, "count")
    m["operators.verified_rows"] = (ver, "count")
    m["operators.cand_yield"] = (ver / cand if cand else 0.0, "ratio")
    gin = tot("generate_in_rows")
    m["operators.probe_rows_per_query"] = (tot("generate_rows") / gin if gin else 0.0, "ratio")
    m["operators.loop_rounds"] = (build_sql / n, "count")
    for k in ("produced_rows", "tombstones", "dlq_rows"):
        m[f"operators.{k}"] = (res.get("seams", {}).get(k, 0.0), "count")
    m["sources.input_rows"] = (tot("input_rows") / n, "count")
    m["sources.input_bytes"] = (tot("input_bytes") / n, "B")
    m["sources.scan_tasks"] = (tot("scan_tasks") / n, "count")
    m["sources.output_rows"] = (tot("output_rows") / n, "count")
    m["sources.output_bytes"] = (tot("output_bytes") / n, "B")
    m["storage.cached_peak_bytes"] = (lay["cached_peak_bytes"], "B")
    span_ids = {s["id"] for s in ops}
    batches = [b for b in res["batches"] if b["op"] in span_ids]
    m["streaming.batches"] = (len(batches) / n, "count")
    for k, d in (("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                 ("commit", "commitOffsets"), ("query_planning", "queryPlanning"),
                 ("get_batch", "getBatch"), ("latest_offset", "latestOffset")):
        m[f"streaming.{k}_s"] = (sum(b["durations"][d] for b in batches) / n / 1000.0, "s")
    m["streaming.state_rows"] = (max([b["state_rows"] for b in batches], default=0), "count")
    m["streaming.state_mem_bytes"] = (max([b["state_mem_bytes"] for b in batches], default=0),
                                      "B")
    m["streaming.state_commit_s"] = (sum(b["state_commit_ms"] for b in batches) / n / 1000.0,
                                     "s")
    m["streaming.checkpoint_bytes"] = (
        sum(r["extra"].get("checkpoint_bytes", 0.0) for r in traced) / n, "B")
    # self time per layer, and how much of the ops' wall their subtrees explain
    for layer in ("op", "sql", "job", "stage", "batch"):
        m[f"span.{layer}_self_s"] = (sum(s["self_ms"] for s in by_layer.get(layer, []))
                                     / n / 1000.0, "s")
    op_wall = sum(s["end_ms"] - s["start_ms"] for s in ops)
    subtree_self = sum(s["self_ms"] for s in spans if s["layer"] not in ("pass",)
                       and op_of(s) is not None)
    m["span.accounted_frac"] = (subtree_self / op_wall if op_wall else 0.0, "ratio")
    overhead = traced_pass / untraced if untraced else 0.0
    m["trace.overhead_ratio"] = (overhead, "ratio")
    print(f"tracing overhead on {res['workload']}: traced pass_s {traced_pass:.4f} s / "
          f"untraced pass_s {untraced:.4f} s = {overhead:.4f}")
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    dst = os.path.join(traces, f"{res['workload']}-{res['seed']}.jsonl")
    shutil.copyfile(res["spans_path"], dst)
    print(f"spans: {len(spans)} written to {os.path.relpath(dst, os.path.dirname(build_dir))}")
    return m


def report(res, verdicts, trace, build_dir):
    attempted = sum(v["units"] for v in verdicts)
    failed = sum(v["units"] for v in verdicts if not v["ok"])
    for v in verdicts:
        if not v["ok"]:
            print(f"FAILED {v['why']}")
    print(f"workload {res['workload']} seed {res['seed']} on local[{res['cores']}]: "
          f"rows {json.dumps(res['rows'])} dials {json.dumps(res['dials'])}")
    print(f"failed_frac {failed / attempted if attempted else 0.0:.4f} "
          f"({failed} of {attempted} operations)")
    m = per_layer(res, build_dir) if trace else end_to_end(res)
    spec = os.path.join(os.path.dirname(build_dir), "BENCHMARK.json")
    if os.path.exists(spec):
        want = {x["name"]: x["unit"] for x in
                json.load(open(spec))["per_layer" if trace else "end_to_end"]}
        got = {k: u for k, (_, u) in m.items()}
        if want != got:
            raise SystemExit(f"metrics differ from BENCHMARK.json: "
                             f"{sorted(set(want.items()) ^ set(got.items()))}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
