#!/usr/bin/env python3
"""iconspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload kg_scan --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's measuring program from source with sbt; later runs
reuse the build while the sources are unchanged. A kg_scan run starts one
JVM (perfbench.Main); a query_suite run starts two, one that stages the
tables and a fresh one that runs the pass cold. The JVMs measure and write
JSON records; this script checks
the outputs against expected.json, prints a readable report and, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics (see README.md). The exit code is 0 only when every
operation succeeded and matched its recorded output.

Maintenance flags: --profile toy (small inputs, for smoke.py), --plant
throw-query|alter-triple (planted defects, for smoke.py), --record A:B
(re-record expected.json for input families A..B-1 at this commit).
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

WORKLOADS = ("kg_scan", "query_suite")
# the JVMs of one run, in order (perfbench.Main --phase)
PHASES = {"kg_scan": ["all"], "query_suite": ["stage", "measure"]}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "pages_per_s": "1/s",
    "triples_per_s": "1/s",
    "heap_live_mb": "MB",
}

QUERY_GROUPS = {
    "ops.relational_s": ["q01", "q02", "q03", "q04", "q05"],
    "ops.EventOps_s": ["q06", "q07"],
    "ops.TextOps_s": ["q08", "q09", "q10", "q11", "q12", "q13", "q14", "q15"],
    "ops.SimOps_s": ["q16", "q17", "q18", "q32"],
    "spark.GraphOps_s": ["q19", "q20", "q21", "q22", "q23"],
    "pipeline.q24_s": ["q24"],
    "extract.q25_q26_s": ["q25", "q26"],
    "ops.TrainDataOps_s": ["q27", "q28", "q29"],
    "ops.MediaOps_s": ["q30"],
    "streaming_s": ["q31", "q33"],
}

QUERIES = [
    "q01_pricing_agg", "q02_revenue_by_nation", "q03_top_orders", "q04_order_status",
    "q05_filter_pushdown", "q06_events_hourly", "q07_sessions", "q08_text_stats",
    "q09_langid", "q10_token_counts", "q11_fingerprints", "q12_exact_dups",
    "q13_jaccard_pairs", "q14_minhash_pairs", "q15_simhash", "q16_cosine_knn",
    "q17_cosine_neardup", "q18_ann_lsh", "q19_taxo_ancestors", "q20_taxo_leaves",
    "q21_taxo_depths", "q22_taxo_tr", "q23_components", "q24_kg_triples",
    "q25_extract_text", "q26_mentions", "q27_sub_traindata", "q28_emb_traindata",
    "q29_gen_traindata", "q30_media_features", "q31_streaming_mentions", "q32_ann_ivf",
    "q33_streaming_sessions",
]


def _per_layer():
    m = {"extract.s": "s", "extract.pages_per_s": "1/s", "extract.mentions": "count"}
    for p in ("candidates", "prior_slice", "decide", "commit", "canonicalize", "checkpoint",
              "other"):
        m["pipeline.%s_s" % p] = "s"
    for p in ("embed", "pairs", "cc", "preload", "apply"):
        m["pipeline.canon_%s_ms" % p] = "ms"
    m.update({"pipeline.canon_merged": "count", "pipeline.ckpt_mb": "MB",
              "pipeline.ckpt_files": "count"})
    m.update({"core.decide_task_p50_ms": "ms", "core.decide_task_p90_ms": "ms",
              "core.decide_task_max_ms": "ms", "core.decisions": "count",
              "core.scored_pairs": "count", "core.scored_per_decision": "ratio"})
    m.update({"retrieve.index_build_ms": "ms", "retrieve.embedded": "count",
              "retrieve.signed": "count", "retrieve.banded_rounds": "count"})
    for k in ("emb", "sub", "gen"):
        m["models.%s_calls" % k] = "count"
    m.update({"models.emb_labels": "count", "models.sub_pairs": "count"})
    for k in ("emb", "sub", "gen"):
        m["models.%s_s" % k] = "s"
    m["models.emb_labels_per_call"] = "ratio"
    m.update({"engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
              "engine.task_s": "s", "engine.busy_share": "ratio",
              "engine.shuffle_read_mb": "MB", "engine.shuffle_write_mb": "MB",
              "engine.spill_mb": "MB", "engine.input_mb": "MB", "engine.skew_max": "ratio",
              "engine.scale_eff": "ratio"})
    m["trace.wall_s"] = "s"
    for q in QUERIES:
        m["q.%s_s" % q] = "s"
    for g in QUERY_GROUPS:
        m[g] = "s"
    return m


PER_LAYER = _per_layer()


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Builds with sbt unless the last build is of the same sources; returns
    the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.server.autostart=false", "-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt)...", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(p.stdout)
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def run_jvm(cp, args, phase, run_dir, spans):
    """Runs one perfbench.Main JVM; returns (exit code, its records)."""
    records = os.path.join(run_dir, "records-%s.jsonl" % phase)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: no heap growth or first-touch page faults
    # inside the timed window
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--phase", phase,
            "--run-dir", run_dir, "--records", records, "--spans", spans,
            "--profile", args.profile, "--plant", args.plant]
    if args.record:
        cmd += ["--record", args.record]
    env = dict(os.environ)
    # spark.local.dir (set per run by the JVM) must win over the environment
    env.pop("SPARK_LOCAL_DIRS", None)
    env.pop("GRAFT_PHASE_TIMES", None)
    if args.trace:
        env["GRAFT_PHASE_TIMES"] = "1"  # the pipeline's own phase-time line
    # the JVM's stdout goes to stderr: this script's stdout is the report
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        p.terminate()
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = p.wait(timeout=None if args.record else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("benchmark JVM exceeded %d s and was stopped" % JVM_TIMEOUT_S, 4)
    return code, [dict(r, phase=phase) for r in read_records(records)]


def read_records(path):
    out = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    out.append(json.loads(line))
    return out


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def record_expected(args, recs):
    exp = load_expected()
    slot = exp.setdefault(args.workload, {}).setdefault(args.profile, {})
    for r in recs:
        if r["type"] != "expect":
            continue
        fam = slot.setdefault(str(r["family"]), {})
        if "rows" in r:
            fam.update(r["rows"])
        else:
            fam[r["leg"]] = [r["count"], r["digest"]]
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


def tail_percentile(xs):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it (nearest rank), or None."""
    n = len(xs)
    s = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return p, s[min(n - 1, int(p / 100.0 * n))]
    return None


def describe(name, xs, unit):
    if not xs:
        return "%s: no samples" % name
    tp = tail_percentile(xs)
    tail = ", p%d %.4f %s" % (tp[0], tp[1], unit) if tp else \
        " (fewer than 20 samples: no tail percentile)"
    return "%s: median %.4f %s%s, n=%d" % (name, statistics.median(xs), unit, tail, len(xs))


def check(args, recs):
    """Returns (attempted, failed, notes) over the run's operations."""
    meta = next((r for r in recs if r["type"] == "meta"), None)
    if meta is None:
        return 0, 0, ["no meta record"]
    exp = load_expected().get(args.workload, {}).get(args.profile, {}).get(
        str(meta["family"]), {})
    attempted = failed = 0
    notes = []
    if args.workload == "query_suite":
        for r in recs:
            if r["type"] != "query":
                continue
            attempted += 1
            want = exp.get(r["name"])
            if not r["ok"]:
                failed += 1
                notes.append("%s threw" % r["name"])
            elif want != r["rows"]:
                failed += 1
                notes.append("%s rows %s, expected %s" % (r["name"], r["rows"], want))
    else:
        for r in recs:
            if r["type"] != "op":
                continue
            attempted += 1
            want = exp.get("prefix" if r["leg"] == "scale1" else "main")
            if not r["ok"]:
                failed += 1
                notes.append("%s operation threw: %s" % (r["leg"], r.get("error")))
            elif want != [r["count"], r["digest"]]:
                failed += 1
                notes.append("%s output %s/%s, expected %s" % (
                    r["leg"], r["count"], r["digest"], want))
    return attempted, failed, notes


def end_to_end(recs):
    """setup_s is the sum over the run's JVMs of the median of each one's
    set-ups."""
    setups = {}
    for r in recs:
        if r["type"] == "setup":
            setups.setdefault(r["phase"], []).append(r["s"])
    mains = [r for r in recs if r["type"] == "op" and r["leg"] == "main" and r["ok"]]
    heap = [r["mb"] for r in recs if r["type"] == "heap"]
    if not setups or not mains or not heap:
        return None, []
    walls = [r["wall_s"] for r in mains]
    wall = statistics.median(walls)
    pages = mains[0]["pages"]
    triples = mains[0]["count"]
    return {"setup_s": sum(statistics.median(v) for v in setups.values()), "wall_s": wall,
            "pages_per_s": pages / wall, "triples_per_s": triples / wall,
            "heap_live_mb": heap[0]}, [
        describe("setup_s (%s JVM)" % ph, v, "s") for ph, v in setups.items()] + [
        describe("wall_s", walls, "s")]


def per_layer(recs):
    vals = {}
    for r in recs:
        if r["type"] == "layer":
            for k, v in r["metrics"].items():
                vals.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in vals.items()}
    q = {r["name"][:3]: r["s"] for r in recs if r["type"] == "query"}
    for r in recs:
        if r["type"] == "query":
            out["q.%s_s" % r["name"]] = r["s"]
    for g, members in QUERY_GROUPS.items():
        if any(m in q for m in members):
            out[g] = sum(q.get(m, 0.0) for m in members)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        fail("unlisted per-layer metrics: %s" % sorted(unknown), 5)
    # a layer the workload does not call spends no time and does no work
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=("full", "toy"), default="full")
    ap.add_argument("--plant", choices=("none", "throw-query", "alter-triple"), default="none")
    ap.add_argument("--record", default=None, help="A:B — re-record expected outputs")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found under %s/src/main/scala; run from a full checkout"
             % ROOT)
    t0 = time.time()
    cp = build()
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    spans = os.path.join(BUILD, "spans", "%s-seed%d.jsonl" % (args.workload, args.seed))
    # one fresh directory per run for inputs, Spark's local dirs, checkpoints
    # and records, deleted at the end
    run_dir = tempfile.mkdtemp(prefix=args.workload + "-", dir=runs)
    recs = []
    try:
        for phase in ["all"] if args.record else PHASES[args.workload]:
            code, r = run_jvm(cp, args, phase, run_dir, spans)
            recs += r
            if code != 0:
                fail("benchmark JVM (%s) exited with code %d" % (phase, code), 3)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.record:
        record_expected(args, recs)
        print("perfbench: recorded %d families" % sum(r["type"] == "expect" for r in recs))
        return 0

    attempted, failed, notes = check(args, recs)
    metrics = {}
    lines = ["workload %s, seed %d, trace %d, %d cores, closed loop (one client)" % (
        args.workload, args.seed, args.trace,
        next((r["cores"] for r in recs if r["type"] == "meta"), 0))]
    e2e, desc = end_to_end(recs)
    lines += desc
    if args.trace == 0:
        for k, unit in END_TO_END.items():
            metrics[k] = {"value": e2e[k] if e2e else 0.0, "unit": unit}
    else:
        for k, v in per_layer(recs).items():
            metrics[k] = {"value": v, "unit": PER_LAYER[k]}
        lines.append("spans: %s" % os.path.relpath(spans, ROOT))
    for k, m in metrics.items():
        lines.append("%s = %.6g %s" % (k, m["value"], m["unit"]))
    lines.append("error_rate = %d/%d = %.4f" % (failed, attempted,
                                                failed / attempted if attempted else 1.0))
    lines += ["check failed: " + n for n in notes[:20]]
    lines.append("run took %.1f s" % (time.time() - t0))
    correct = attempted > 0 and failed == 0 and e2e is not None
    print("\n".join(lines))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
