#!/usr/bin/env python3
"""The repository's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload registry --seed 1 --seconds 40 --trace 0

Workloads (why each exists: ``perfbench/README.md``):

* ``registry``: closed loop, one client. A seeded stratified draw of the
  declared queries (one per stratum of ``stratum`` queries of similar
  cost, every query eligible) on a generated sf0.001 fixture; each pass
  runs the draw in its own seeded order, and a query counts its best.
* ``scale_up``: closed loop, one client. A fixed set of data-bound
  declared queries on a seeded N-times replica of a generated sf0.1
  fixture, in a fresh seeded order each pass.
* ``stream_ingest``: open loop. Seeded document batches land on a fixed
  schedule in the directory ``StreamOps.dedupStream`` reads; lookups
  (``probeDedup`` then ``readKeys``) run on their own schedule.

The closed-loop workloads run ``seconds // pass_s`` passes (at least
one), ``pass_s`` being the workload's nominal pass time on 4 cores.

The program is compiled from the checkout (``perfbench/build.py``) and
driven by ``perfbench/src/main/scala/graftbench``. Every result is
checked: a query result's row count and checksum, a lookup's exact
answer, and the final corpus and index of the ingest, against values
recorded per (workload, input) in ``perfbench/expected.json``. The last
line of standard output is the result JSON; ``--trace 1`` reports
per-layer metrics instead of end-to-end ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

CORES = len(os.sched_getaffinity(0))
SETUP_REPS = 3
RUN_LIMIT_S = 170
OP_TIMEOUT_S = 60
BASE_SEED = 42

WORKLOADS = {
    "registry": {"sf": 0.001, "stratum": 6, "heap": "1g", "pass_s": 18},
    "scale_up": {
        "sf": 0.1, "replicas": 3, "variants": 4, "heap": "512m", "pass_s": 12,
        "queries": ["op_map", "op_flatmap", "op_mapm", "op_distinct_by",
                    "op_sessionize", "win_rank", "agg_cube", "agg_quantile_merge",
                    "llm_tfidf", "llm_distinct_n", "llm_dedup_cluster", "llm_components",
                    "llm_ann_ivf", "llm_semdedup_q"]},
    "stream_ingest": {
        "sf": 0.001, "variants": 4, "heap": "1g", "corpus_docs": 5000, "batch_docs": 100,
        "dup_share": 0.2, "near_share": 0.2, "near_edit": 0.1,
        "batch_interval_ms": 3750, "read_offsets_ms": [2400, 3050], "probe_docs": 20, "lead_ms": 500,
        "k": 2, "bands": 8, "rows_per_band": 2, "threshold": 0.5,
        "n_buckets": 16, "n_idx_buckets": 8, "max_tail_batches": 1},
}
# Smaller inputs for the benchmark's own tests.
PROFILES = {"test": {
    "registry": {},
    "scale_up": {"sf": 0.001, "replicas": 2, "variants": 2,
                 "queries": ["op_map", "agg_approx", "llm_tfidf"]},
    "stream_ingest": {"corpus_docs": 500, "batch_docs": 50, "variants": 2},
}}

E2E = [("setup_s", "s"), ("query_p50_s", "s"), ("query_tail_s", "s"), ("batch_s", "s"),
       ("batch_tail_s", "s"), ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB")]
STREAM_LAYER = [("streaming.batch_apply_s", "s"), ("streaming.batch_overhead_s", "s"),
                ("streaming.queue_wait_s", "s"), ("streaming.jobs_per_batch", "count"),
                ("streaming.fold_s", "s"), ("streaming.folds", "count"),
                ("streaming.tail_batches", "count"), ("streaming.read_s", "s"),
                ("streaming.write_bytes_per_user_byte", "ratio"),
                ("streaming.rows_out_per_row_in", "ratio"),
                ("streaming.store_bytes_per_user_byte", "ratio"),
                ("streaming.generator_late_s", "s")]
SESSION_LAYER = [("session.start_s", "s"), ("session.tables_warm_s", "s"),
                 ("session.kernels_warm_s", "s")]
OVERHEAD_OF = ["setup_s", "query_p50_s", "batch_s", "rows_per_s"]


def per_layer_names(workload):
    units = {"jobs": "count", "scans": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
    out = [(f"{l}.{m}", units.get(m, "s")) for l in M.LAYERS for m in M.QUERY_LAYER_METRICS]
    out += SESSION_LAYER + [(f"trace.overhead.{m}", u) for m, u in E2E if m in OVERHEAD_OF]
    return out + (STREAM_LAYER if workload == "stream_ingest" else [])


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path, default):
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return default


def digest_of(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:12]


# --- inputs --------------------------------------------------------------

def base_dir(bb, sf):
    path = os.path.join(bb, "inputs", f"base-sf{sf}-v{gen.VERSION}")
    return gen.cached(path, lambda p: gen.write_tables(gen.base_tables(sf, BASE_SEED), p))


def replica_dir(bb, cfg, variant):
    path = os.path.join(bb, "inputs", f"replica-sf{cfg['sf']}x{cfg['replicas']}-v{gen.VERSION}-{variant}")

    def make(p):
        tables = gen.replica(gen.base_tables(cfg["sf"], BASE_SEED), cfg["replicas"], variant)
        gen.write_tables(tables, p)
        with open(os.path.join(p, "rows.json"), "w") as fh:
            json.dump({t: tables[t].num_rows for t in gen.TABLES}, fh)
    return gen.cached(path, make)


def stream_dir(bb, cfg, variant, n_batches):
    keyed = dict(cfg, batches=n_batches)
    path = os.path.join(bb, "inputs", f"stream-v{gen.VERSION}-{variant}-{digest_of(keyed)}")

    def make(p):
        sched = gen.stream_inputs(p, variant, keyed)
        with open(os.path.join(p, "schedule.json"), "w") as fh:
            json.dump(sched, fh)
    gen.cached(path, make)
    with open(os.path.join(path, "schedule.json")) as fh:
        sched = json.load(fh)
    # the schedule records where it was written; re-root it here
    for item in [sched] + sched["batches"] + sched["reads"]:
        for k in ("corpus", "warmup", "file"):
            if k in item:
                item[k] = os.path.join(path, os.path.basename(item[k]))
    return sched


# --- the JVM run ---------------------------------------------------------

def java_cmd(classes, plan_file, tmp, heap):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
            [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", build.classpath(classes), "graftbench.Main", plan_file])


def run_jvm(classes, plan, run_dir, deadline):
    """Launch the JVM on ``plan``; returns (result dict, peak RSS MB)."""
    tmp = plan["tmp_dir"]
    os.makedirs(tmp, exist_ok=True)
    plan_file = os.path.join(run_dir, "plan.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    plan["launch_ms"] = time.time() * 1e3
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    p = subprocess.Popen(java_cmd(classes, plan_file, tmp, plan.get("heap", "1g")), stdout=log, stderr=log)
    killer = threading.Timer(max(1.0, deadline - time.time()), p.kill)
    killer.start()
    _running[p.pid] = p.kill
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        _running.pop(p.pid, None)
        killer.cancel()
        log.close()
    p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        die(f"JVM exited with {p.returncode}:\n{tail}")
    with open(plan["result_file"]) as fh:
        return json.load(fh), usage.ru_maxrss / 1024.0


# --- checks ----------------------------------------------------------------

def check_digests(items, expected, failures):
    """Compare (name, rows, checksum) results with recorded values."""
    for key, got in items:
        if "error" in got:
            failures.append(f"{key}: {got['error']}")
            continue
        want = expected.get(key)
        if want is None:
            failures.append(f"{key}: no recorded expectation for this input")
        elif (want["rows"], want["checksum"]) != (got["rows"], got["checksum"]):
            failures.append(f"{key}: rows/checksum {got['rows']}/{got['checksum']} != "
                            f"recorded {want['rows']}/{want['checksum']}")


# --- workloads ------------------------------------------------------------

def registry_strata(cfg, reference):
    """The declared queries sorted by reference cost, in groups of
    ``stratum`` neighbours."""
    ref = reference.get("registry", {})
    order = sorted(ref, key=lambda q: (ref[q]["ref_s"], q))
    return [order[i:i + cfg["stratum"]] for i in range(0, len(order), cfg["stratum"])]


def passes(cfg, seconds):
    """How many passes fill ``seconds``: a fixed function of the
    measuring time, so every run of a workload does the same work."""
    return max(1, int(seconds // cfg["pass_s"]))


def registry_plan(cfg, args, reference):
    if args.queries:
        return [args.queries.split(",")]
    if args.record or not reference.get("registry"):
        return [["*"]]
    return gen.registry_passes(registry_strata(cfg, reference), args.seed, passes(cfg, args.seconds))


def summarize_queries(workload, cfg, res, expected_key, expected, reference, rows_of):
    ops = res["ops"]
    failures = []
    check_digests([(o["name"], o) for o in ops], expected.get(expected_key, {}), failures)
    times = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]
    if workload == "registry":
        # each query's best of its passes, as graft.Bench takes (contention
        # only adds time); each draw stands for its stratum, so the draw
        # estimates the whole suite
        best = {}
        for o, t in zip(ops, times):
            best[o["name"]] = min(t, best.get(o["name"], t))
        times = list(best.values())
        weight = {q: len(s) for s in registry_strata(cfg, reference) for q in s}
        batch = [sum(t * weight.get(q, 1) for q, t in best.items())]
    else:
        batch = [sum(t for o, t in zip(ops, times) if o["pass"] == p) for p in sorted({o["pass"] for o in ops})]
    tail_v, tail_p, n = M.tail(times)
    bt_v, bt_p, bn = M.tail(batch)
    values = {"query_p50_s": statistics.median(times), "query_tail_s": tail_v,
              "batch_s": statistics.median(batch), "batch_tail_s": bt_v,
              "rows_per_s": rows_of(ops, times, batch)}
    detail = {"queries": n, "query_tail_pct": tail_p, "batches": bn, "batch_tail_pct": bt_p}
    if workload == "scale_up":
        detail["query_s"] = {q: round(statistics.median([t for o, t in zip(ops, times) if o["name"] == q]), 3)
                             for q in cfg["queries"]}
    return values, detail, len(ops), failures


def summarize_stream(res, expected, rows_landed_bytes):
    failures = []
    batches, reads = res["batches"], res["reads"]
    for b in batches:
        if "error" in b:
            failures.append(f"batch {b['index']}: {b['error']}")
    for r in reads:
        if "error" in r:
            failures.append(f"read {r['index']}: {r['error']}")
    check_digests(sorted(res["final"].items()), expected, failures)
    ok_b = [b for b in batches if "commit_ms" in b]
    lat = [(b["commit_ms"] - b["due_ms"]) / 1e3 for b in ok_b] or [float("nan")]
    rlat = [(r["end_ms"] - r["due_ms"]) / 1e3 for r in reads] or [float("nan")]
    bt_v, bt_p, bn = M.tail(lat)
    rt_v, rt_p, rn = M.tail(rlat)
    busy = sum(b["trigger_ms"] for b in ok_b) / 1e3
    values = {"query_p50_s": statistics.median(rlat), "query_tail_s": rt_v,
              "batch_s": statistics.median(lat), "batch_tail_s": bt_v,
              "rows_per_s": sum(b["rows_in"] for b in ok_b) / busy if busy else float("nan")}
    store = sum(os.path.getsize(os.path.join(d, f)) for root in res["store_dirs"]
                for d, _, fs in os.walk(root) for f in fs)
    detail = {"reads": rn, "read_tail_pct": rt_p, "batches": bn, "batch_tail_pct": bt_p,
              "store_bytes_per_user_byte": store / rows_landed_bytes,
              "generator_late_ms_max": max([b["woke_ms"] - b["due_ms"] for b in batches] or [0.0]),
              "bootstrap_s": res.get("bootstrap_s"),
              "batch_latency_s": [round(x, 3) for x in lat], "read_latency_s": [round(x, 3) for x in rlat]}
    return values, detail, len(batches) + len(reads) + len(res["final"]), failures


def stream_layers(res, spans, user_bytes):
    batches = [b for b in res["batches"] if "commit_ms" in b]
    measured = {str(b["batch_id"]) for b in batches}
    jobs = [s for s in spans if s["kind"] == "job" and s["batch"] in measured]
    batch_exec = {j["execution"] for j in jobs}
    folds = [s for s in spans if s["kind"] == "sql" and s["fold"] and str(s["execution"]) in batch_exec]
    tails = [b["tail_batches"] for b in batches if "tail_batches" in b]
    # each batch adds one tail partition; a fold empties the tail
    fold_count = sum(1 for a, b in zip([res.get("warmup_tail_batches", 0)] + tails, tails) if b < a + 1)
    med = lambda xs: statistics.median(xs) if xs else 0.0
    landed_rows = sum(b["rows"] for b in batches)
    return {
        "streaming.batch_apply_s": med([b["add_batch_ms"] / 1e3 for b in batches]),
        "streaming.batch_overhead_s": med([(b["trigger_ms"] - b["add_batch_ms"]) / 1e3 for b in batches]),
        "streaming.queue_wait_s": med([(b["trigger_start_ms"] - b["due_ms"]) / 1e3 for b in batches]),
        "streaming.jobs_per_batch": len(jobs) / len(batches) if batches else 0.0,
        "streaming.fold_s": sum(s["end"] - s["start"] for s in folds) / 1e3 / len(batches) if batches else 0.0,
        "streaming.folds": fold_count,
        "streaming.tail_batches": sum(tails) / len(tails) if tails else 0.0,
        "streaming.read_s": med([(r["end_ms"] - r["start_ms"]) / 1e3 for r in res["reads"]]),
        "streaming.write_bytes_per_user_byte": sum(s["output_bytes"] for s in jobs) / user_bytes,
        "streaming.rows_out_per_row_in": sum(s["output_rows"] for s in jobs) / landed_rows if landed_rows else 0.0,
        "streaming.generator_late_s": max([(b["woke_ms"] - b["due_ms"]) / 1e3
                                          for b in res["batches"]] or [0.0]),
    }


# Stops for the processes this run has started and not yet reaped.
_running = {}


def _terminate(signum, _frame):
    """A stopped benchmark stops what it started."""
    for stop in list(_running.values()):
        stop()
    os._exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["selftest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--profile", default="", help="'test': the tests' small inputs")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"))
    ap.add_argument("--reference", default=os.path.join(HERE, "reference.json"))
    ap.add_argument("--record", action="store_true",
                    help="write this run's results as the expected values (and, traced, "
                         "the reference costs); only after tools/check.py passes on the input")
    ap.add_argument("--queries", default="", help="comma-separated query list in place of the workload's own")
    args = ap.parse_args()
    started = time.time()
    deadline = started + (900 if args.record else RUN_LIMIT_S)

    root = os.getcwd()
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)
    classes = build.ensure(root, bb)
    run_dir = os.path.join(bb, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tmp = os.path.join(run_dir, "tmp")
    plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": CORES, "setup_reps": SETUP_REPS,
            "tmp_dir": tmp, "result_file": os.path.join(run_dir, "result.json"),
            "trace_file": os.path.join(run_dir, "spans.jsonl"), "op_timeout_s": OP_TIMEOUT_S}
    if args.workload == "selftest":
        res, _ = run_jvm(classes, plan, run_dir, deadline)
        print(json.dumps(res["selftest"]))
        shutil.rmtree(run_dir, ignore_errors=True)
        return

    cfg = dict(WORKLOADS[args.workload], **PROFILES.get(args.profile, {}).get(args.workload, {}))
    if args.queries and args.workload == "scale_up":
        cfg["queries"] = args.queries.split(",")
    expected_all = load_json(args.expected, {})
    reference = load_json(args.reference, {})
    variant = args.seed % cfg.get("variants", 1)
    plan["heap"] = cfg["heap"]
    sched = None
    if args.workload == "registry":
        plan["data_dir"] = base_dir(bb, cfg["sf"])
        plan["passes"] = registry_plan(cfg, args, reference)
        exp_key = f"sf{cfg['sf']}"
        suite_rows = sum(r["input_rows"] for r in reference.get("registry", {}).values())
        # the reference input rows of the whole suite per second of suite
        rows_of = lambda ops, times, batch: suite_rows / statistics.median(batch)
    elif args.workload == "scale_up":
        plan["data_dir"] = replica_dir(bb, cfg, variant)
        plan["passes"] = [[cfg["queries"][i] for i in gen._rng(args.seed, 5, p).permutation(len(cfg["queries"]))]
                          for p in range(passes(cfg, args.seconds))]
        exp_key = f"sf{cfg['sf']}x{cfg['replicas']}/v{variant}"
        with open(os.path.join(plan["data_dir"], "rows.json")) as fh:
            table_rows = json.load(fh)
        ref_tables = reference.get("scale_up_tables", {})
        # input table rows of the queries run per second of query time
        rows_of = lambda ops, times, batch: sum(
            table_rows[t] for o in ops for t in ref_tables.get(o["name"], [])) / sum(times)
    else:
        plan["data_dir"] = base_dir(bb, cfg["sf"])
        n_b = max(1, int(args.seconds * 1000 // cfg["batch_interval_ms"]))
        sched = stream_dir(bb, cfg, variant, n_b)
        plan["stream"] = dict(cfg, corpus=sched["corpus"], warmup=sched["warmup"], batches=sched["batches"],
                              reads=sched["reads"])
        exp_key = f"{digest_of(dict(cfg, batches=n_b))}/v{variant}"

    res, rss = run_jvm(classes, plan, run_dir, deadline)
    spans = []
    if args.trace:
        with open(plan["trace_file"]) as fh:
            spans = [json.loads(line) for line in fh]
    expected = expected_all.get(args.workload, {})

    if args.workload == "stream_ingest":
        landed = sched["corpus_user_bytes"] + sum(b["user_bytes"] for b in res["batches"])
        values, detail, attempted, failures = summarize_stream(res, expected.get(exp_key, {}), landed)
    else:
        values, detail, attempted, failures = summarize_queries(
            args.workload, cfg, res, exp_key, expected, reference, rows_of)
    setup = res["setup"]
    values["setup_s"] = statistics.median([s["total_s"] for s in setup])
    values["peak_rss_mb"] = rss

    if args.record:
        record(args, res, spans, exp_key, expected_all, reference)
        failures = []

    if args.trace:
        rules = load_json(os.path.join(HERE, "layers.json"), {})["rules"]
        layer = M.query_layers(spans, rules)
        if args.workload == "stream_ingest":
            user = sum(b["user_bytes"] for b in res["batches"])
            layer.update(stream_layers(res, spans, user))
            layer["streaming.store_bytes_per_user_byte"] = detail["store_bytes_per_user_byte"]
        for name, key in [("session.start_s", "start_s"), ("session.tables_warm_s", "tables_warm_s"),
                          ("session.kernels_warm_s", "kernels_warm_s")]:
            layer[name] = statistics.median([s[key] for s in setup])
        untraced = values if args.record else untraced_values(args, root, bb, classes, deadline)
        for m in OVERHEAD_OF:
            layer[f"trace.overhead.{m}"] = values[m] - untraced[m]
        out = {k: {"value": layer[k], "unit": u} for k, u in per_layer_names(args.workload)}
        detail["op_s"] = sum(s["end"] - s["start"] for s in spans if s["kind"] == "op") / 1e3
    else:
        cache = e2e_cache(args, bb, classes)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(values, fh)
        out = {k: {"value": values[k], "unit": u} for k, u in E2E}

    detail.update(failed_frac=len(failures) / max(1, attempted), failures=failures[:20],
                  setup_samples=[s["total_s"] for s in setup], input=plan["data_dir"])
    print("detail " + json.dumps(detail))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": out}))


def e2e_cache(args, bb, classes):
    key = digest_of([args.workload, args.seed, args.seconds, args.profile, args.queries,
                     os.path.basename(classes)])
    return os.path.join(bb, "e2e", f"{args.workload}-{args.seed}-{key}.json")


def untraced_values(args, root, bb, classes, deadline):
    """End-to-end values of the same workload and seed with tracing off:
    from an earlier untraced run in this checkout, or measured now."""
    cache = e2e_cache(args, bb, classes)
    if not os.path.exists(cache):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0", "--profile", args.profile,
               "--expected", args.expected, "--reference", args.reference]
        if args.queries:
            cmd += ["--queries", args.queries]
        child = subprocess.Popen(cmd, cwd=root, stdout=subprocess.DEVNULL, start_new_session=True)
        stop = lambda: os.killpg(child.pid, signal.SIGKILL)  # the child and its JVM
        _running[child.pid] = stop
        try:
            child.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop()
            child.wait()
        finally:
            _running.pop(child.pid, None)
    with open(cache) as fh:
        return json.load(fh)


def record(args, res, spans, exp_key, expected_all, reference):
    """Store this run's results as the expected values for its input."""
    w = expected_all.setdefault(args.workload, {})
    if args.workload == "stream_ingest":
        w[exp_key] = res["final"]
    else:
        w[exp_key] = {o["name"]: {"rows": o["rows"], "checksum": o["checksum"]}
                      for o in res["ops"] if "error" not in o}
    with open(args.expected, "w") as fh:
        json.dump(expected_all, fh, indent=1, sort_keys=True)
    if args.workload == "registry" and spans:
        jobs = {}
        for s in spans:
            if s["kind"] == "job":
                jobs.setdefault(s["tag"], []).append(s)
        reference["registry"] = {
            o["name"]: {"ref_s": round((o["end_ms"] - o["start_ms"]) / 1e3, 4),
                        "input_rows": sum(j["input_rows"] for j in jobs.get(o["tag"], []))}
            for o in res["ops"]}
        with open(args.reference, "w") as fh:
            json.dump(reference, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
