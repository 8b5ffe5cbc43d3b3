"""Benchmark command: one run of one workload.

    python3 benchmark/run.py --workload scan_count --seed 1 --seconds 10 --trace 0

Builds the engine from the checkout's sources (benchmark/build.py),
generates the seeded fixture and its DuckDB truths (cached by workload,
seed and size under .bench_build/fixtures), runs the in-process runner
`graft.bench.Main` in a fresh work dir, checks every operation's output,
and prints one `name value unit` line per metric followed by one JSON
object: {"correct", "attempted", "failed", "metrics"}. The JVM writes its
measurements to a result file that this script reads back; nothing is
parsed from the JVM's console output.
"""

import argparse
import functools
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import truth  # noqa: E402

BUILD = build.BUILD
WORKLOADS = ("scan_count", "ingest_follow")
# run-level constants: set-up repetitions (setup_s is their median), the
# minimum closed-loop units per run, and the timed ingest batches
SETUP_REPS = {"scan_count": 3, "ingest_follow": 2}
MIN_UNITS = {"scan_count": 3, "ingest_follow": 1}
TIMED_BATCHES = 2
# a traced run needs 4 units for its A B B A overhead comparison
TRACE_UNITS = 4
KEEP_FIXTURES = 8
JVM_TIMEOUT_S = 165

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "read_p50_ms": "ms"}
MODULES = ("sources", "operators", "search", "functions", "cli", "other")
SEARCH_KINDS = ("phrase", "bm25", "knn")
PER_LAYER = (
    ["sources.decode_s", "sources.input_mb_per_s", "functions.tokenize_s",
     "operators.ngram_explode_s", "operators.ngram_agg_s",
     "operators.topk_select_s", "operators.cms_s", "cli.deliver_s"]
    + [f"search.{m}.{k}" for m in ("plan_ms", "exec_ms", "jobs_per_op", "tasks_per_op",
                                   "files_read_per_op", "rows_scanned_per_hit")
       for k in SEARCH_KINDS]
    + ["search.catalog_ms", "operators.quality_gate_s", "operators.dedup_s",
       "operators.decontam_s", "operators.dedup_drop_ratio", "sources.batch_write_s",
       "search.index_upsert_s", "search.ann_upsert_s", "search.ann_compact_s",
       "search.jobs_per_batch", "storage.index_files", "storage.bytes_written_per_input_byte",
       "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
       "spark.shuffle_read_mb", "spark.spill_mb", "spark.executor_cpu_s", "spark.cpu_util",
       "spark.task_skew", "spark.gc_s", "jvm.heap_peak_mb"]
    + [f"jobs.{m}" for m in MODULES] + [f"jobs.{m}_s" for m in MODULES]
    + ["trace.overhead_frac"])


def unit_of(name):
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_ms") or ".plan_ms." in name or ".exec_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if any(t in name for t in ("ratio", "frac", "util", "skew", "per_hit", "per_input_byte")):
        return "ratio"
    return "count"


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def heap_gb():
    """A quarter of host RAM, clamped to 2..8 GB (never the build's 24g)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kb // (4 << 20)))


def _code_digest():
    h = hashlib.sha256()
    for name in ("gen.py", "truth.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def fixture(workload, seed):
    """(spec, truth, planted) for (workload, seed, size), generated once."""
    root = os.path.join(BUILD, "fixtures")
    d = os.path.join(root, f"{workload}-s{seed}-{_code_digest()}")
    meta = os.path.join(d, "fixture.json")
    if not os.path.exists(meta):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        spec, planted = gen.generate(workload, seed, tmp)
        tr = truth.TRUTHS[workload](spec)
        blob = json.dumps({"spec": spec, "truth": tr, "planted": planted})
        with open(os.path.join(tmp, "fixture.json"), "w") as f:
            f.write(blob.replace(tmp, d))
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        old = sorted((os.path.getmtime(os.path.join(root, x)), x) for x in os.listdir(root))
        for _, x in old[:-KEEP_FIXTURES]:
            shutil.rmtree(os.path.join(root, x), ignore_errors=True)
    os.utime(d)
    with open(meta) as f:
        fx = json.load(f)
    return fx["spec"], fx["truth"], fx["planted"]


def runner_spec(workload, spec, args, work, result, cores):
    kv = [("workload", workload), ("seconds", args.seconds), ("trace", args.trace),
          ("work", work), ("result", result), ("cores", cores),
          ("setup_reps", SETUP_REPS[workload]),
          ("min_units", TRACE_UNITS if args.trace else MIN_UNITS[workload])]
    if workload == "scan_count":
        first = sorted(os.listdir(spec["shards"]))[0]
        kv += [("shards", spec["shards"]), ("warm_shard", os.path.join(spec["shards"], first)),
               ("input_bytes", spec["input_bytes"])]
        kv += [("phrase", p) for p in spec["phrases"]]
    else:
        bs = spec["batches"]
        kv += [("bench", spec["bench"]), ("late", spec["late"]),
               ("timed_batches", TRACE_UNITS if args.trace else TIMED_BATCHES),
               ("probe_bytes", bs[-1]["gz_bytes"]),
               ("vectors", spec["vectors"]), ("vector_queries", spec["vector_queries"])]
        for b in bs:
            kv += [("batch", b["dir"]), ("canary", b["canary"])]
            kv += [("bm25", " ".join(q)) for q in b["bm25"]]
            kv += [("knn", k["text"]) for k in b["knn"]]
    for k, v in kv:
        if "\t" in str(v) or "\n" in str(v):
            raise ValueError(f"spec value for {k} holds a tab or newline")
    return "".join(f"{k}\t{v}\n" for k, v in kv)


def run_jvm(classpath, spec_path, work, log_path, deadline):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + os.path.join(work, "derby")]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.bench.Main", spec_path]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            return p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark: the engine run exceeded its time budget")


def med(xs):
    return statistics.median(xs) if xs else 0.0


def evaluate(workload, recs, spec, tr, planted):
    """(attempted, failed, reasons) over the timed and checked operations."""
    ops = [r for r in recs if r["kind"] == "op" and r["unit"] >= 0]
    checks = {r["unit"]: r for r in recs if r["kind"] == "check"}
    state = next((r["state"] for r in recs if r["kind"] == "paths"), "")
    texts = functools.lru_cache(None)(lambda: check.doc_texts(spec))
    reasons = []
    for op in ops:
        if not op["ok"]:
            reasons.append(f"{op['op']}: {op['err']}")
            continue
        try:
            if workload == "scan_count":
                why = check.check_scan(op, tr)
            else:
                why = check.check_ingest(op, tr, spec, planted, checks, state, texts)
        except Exception as e:  # a malformed output is a failed check
            why = f"{op['op']}: unreadable output ({e})"
        if why:
            reasons.append(why)
    return len(ops), len(reasons), reasons


def fail_frac(attempted, failed):
    """Operations that threw or failed their check, over those attempted."""
    return failed / max(1, attempted)


def dir_bytes(path):
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


def end_to_end(workload, recs, spec):
    """(BENCHMARK.json end-to-end metrics, per-workload detail metrics)."""
    ops = [r for r in recs if r["kind"] == "op" and r["unit"] >= 0 and r["ok"]]
    units = [r for r in recs if r["kind"] == "unit"]
    setup = next(r for r in recs if r["kind"] == "metric" and r["name"] == "setup_s")["value"]
    extra = {"setup_s": (setup, "s")}
    if workload == "scan_count":
        n_cmds = 5
        batt = med([u["s"] for u in units])
        topk = med([o["s"] for o in ops if o["op"] == "topk"])
        docs_per_s = spec["n_docs"] * n_cmds / batt
        read = topk * 1e3
        extra.update(scan_docs_per_s=(docs_per_s, "docs/s"),
                     topk_docs_per_s=(spec["n_docs"] / topk, "docs/s"),
                     batteries=(len(units), "count"))
    else:
        batch = {}
        for o in ops:
            if o["op"] in ("ingest", "ann_follow"):
                batch[o["unit"]] = batch.get(o["unit"], 0.0) + o["s"]
        offered = sum(spec["batches"][b]["docs"] for b in batch)
        docs_per_s = offered / sum(batch.values())
        look = [o for o in ops if o["op"] in SEARCH_KINDS]
        lat = sorted(o["s"] * 1e3 for o in look)
        read = med(lat)
        extra.update(lookup_p50_ms=(read, "ms"), lookups=(len(lat), "count"))
        if len(lat) >= 100:
            extra["lookup_p90_ms"] = (statistics.quantiles(lat, n=10)[-1], "ms")
        for k in SEARCH_KINDS:
            extra[f"{k}_p50_ms"] = (med([o["s"] * 1e3 for o in look if o["op"] == k]), "ms")
        paths = next(r for r in recs if r["kind"] == "paths")
        wh = paths["warehouse"]
        stored = dir_bytes(paths["state"]) + sum(
            dir_bytes(os.path.join(wh, d)) for d in os.listdir(wh)
            if any(d == t or d.startswith(t + "__") for t in paths["tables"]))
        gz = sum(b["gz_bytes"] for b in spec["batches"][: max(batch) + 1])
        extra.update(ingest_docs_per_s=(docs_per_s, "docs/s"),
                     batch_p50_s=(med(list(batch.values())), "s"),
                     raw_p50_ms=(read, "ms"),
                     stored_bytes_per_input_byte=(stored / gz, "ratio"))
    contract = {"setup_s": setup, "docs_per_s": docs_per_s, "read_p50_ms": read}
    return contract, extra


def per_layer(workload, recs, spec, cores):
    m = {r["name"]: r["value"] for r in recs if r["kind"] == "metric"}
    tr = next(r for r in recs if r["kind"] == "trace")
    units = [r for r in recs if r["kind"] == "unit"]
    ops = [r for r in recs if r["kind"] == "op" and r["unit"] >= 0 and r["ok"]]
    traced = [u for u in units if u["traced"]]
    n = max(1, len(traced))
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: v for k, v in m.items() if k in out})
    out["spark.jobs"] = tr["jobs"] / n
    out["spark.stages"] = tr["stages"] / n
    out["spark.tasks"] = tr["tasks"] / n
    out["spark.shuffle_write_mb"] = tr["shuffle_w"] / 2 ** 20 / n
    out["spark.shuffle_read_mb"] = tr["shuffle_r"] / 2 ** 20 / n
    out["spark.spill_mb"] = tr["spill"] / 2 ** 20 / n
    out["spark.executor_cpu_s"] = tr["cpu_ns"] / 1e9 / n
    out["spark.cpu_util"] = tr["cpu_ns"] / 1e9 / max(1e-9, sum(u["s"] for u in traced) * cores)
    out["spark.task_skew"] = tr["skew"]
    out["spark.gc_s"] = tr["gc_ms"] / 1e3 / n
    for mod in MODULES:
        out[f"jobs.{mod}"] = tr["module_jobs"][mod] / n
        out[f"jobs.{mod}_s"] = tr["module_ms"][mod] / 1e3 / n
    # overhead: tagged vs untagged operations of one kind, same window
    ratios = []
    for k in sorted({o["op"] for o in ops}):
        a = [o["s"] for o in ops if o["op"] == k and o["traced"]]
        b = [o["s"] for o in ops if o["op"] == k and not o["traced"]]
        if a and b:
            ratios.append(med(a) / med(b) - 1)
    out["trace.overhead_frac"] = med(ratios)
    out["storage.index_files"] = tr["index_files"]
    per_kind = tr["ops"]
    if workload == "ingest_follow":
        for k in SEARCH_KINDS:
            cnt = len([o for o in ops if o["op"] == k and o["traced"]])
            if cnt:
                out[f"search.jobs_per_op.{k}"] = per_kind[k]["jobs"] / cnt
                out[f"search.tasks_per_op.{k}"] = per_kind[k]["tasks"] / cnt
        phrase_cli = med([o["s"] for o in ops if o["op"] == "phrase"])
        out["cli.deliver_s"] = phrase_cli - (m.get("search.plan_ms.phrase", 0)
                                             + m.get("search.exec_ms.phrase", 0)) / 1e3
    if workload == "scan_count":
        probe = next(r["value"] for r in recs if r["kind"] == "probe" and r["name"] == "topk_collect_s")
        out["cli.deliver_s"] = med([o["s"] for o in ops if o["op"] == "topk"]) - probe
        out["storage.bytes_written_per_input_byte"] = tr["out_bytes"] / (spec["input_bytes"] * n)
    else:
        tb = [u["unit"] for u in traced]
        gz = sum(spec["batches"][b]["gz_bytes"] for b in tb)
        out["sources.batch_write_s"] = per_kind["ingest"]["write_ms"] / 1e3 / n
        out["search.index_upsert_s"] = per_kind["ingest"]["search_ms"] / 1e3 / n
        out["search.ann_upsert_s"] = med([o["s"] for o in ops if o["op"] == "ann_follow"])
        out["search.jobs_per_batch"] = (per_kind["ingest"]["jobs"] + per_kind["ann"]["jobs"]) / n
        out["storage.bytes_written_per_input_byte"] = (
            per_kind["ingest"]["out_bytes"] + per_kind["ann"]["out_bytes"]) / max(1, gz)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()
    env = {"nproc": nproc(), "loadavg_before": loadavg(), "heap_gb": heap_gb()}
    classpath = build.build()
    # the first run in a checkout also pays the build, outside the budget
    deadline = time.monotonic() + JVM_TIMEOUT_S
    spec, tr, planted = fixture(args.workload, args.seed)
    env["prepare_s"] = time.monotonic() - start
    work = os.path.join(BUILD, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.jsonl")
    spec_path = os.path.join(work, "spec.tsv")
    with open(spec_path, "w") as f:
        f.write(runner_spec(args.workload, spec, args, work, result, env["nproc"]))
    log = os.path.join(BUILD, "results", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        code = run_jvm(classpath, spec_path, work, log, deadline)
        recs = []
        if os.path.exists(result):
            with open(result) as f:
                recs = [json.loads(l) for l in f if l.strip()]
        if code != 0 or not recs or recs[-1]["kind"] != "done":
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"benchmark: the engine run failed (exit {code})")
        attempted, failed, reasons = evaluate(args.workload, recs, spec, tr, planted)
        contract, extra = end_to_end(args.workload, recs, spec)
        extra["fail_frac"] = (fail_frac(attempted, failed), "ratio")
        layers = per_layer(args.workload, recs, spec, env["nproc"]) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_after"] = loadavg()
    env["total_s"] = time.monotonic() - start
    for r in reasons[:20]:
        print(f"check failed: {r}", file=sys.stderr)
    lines = [(k, v, u) for k, (v, u) in extra.items()]
    lines += [("env.nproc", env["nproc"], "count"), ("env.heap_gb", env["heap_gb"], "GB"),
              ("env.loadavg_before", env["loadavg_before"][0], "load"),
              ("env.loadavg_after", env["loadavg_after"][0], "load")]
    lines += [(k, v, unit_of(k)) for k, v in layers.items()]
    for name, value, unit in lines:
        print(f"{args.workload} {name} {value:.6g} {unit}")
    metrics = ({k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()} if args.trace
               else {k: {"value": contract[k], "unit": u} for k, u in END_TO_END.items()})
    summary = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": metrics}
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"env": env, "extra": extra, "reasons": reasons, **summary}, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
