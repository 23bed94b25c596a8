#!/usr/bin/env python3
"""graft's repo benchmark: one closed loop per workload, end-to-end metrics
from untraced runs, per-layer metrics from traced runs.

    python3 perfbench/run.py --workload tokens-clean --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed 1] [--seconds 10]

Run from the repository root. The first call builds the library (the root
sbt build) and the benchmark (perfbench/build.sbt) and caches the classpath
under .bench_build/; every run generates its inputs from the seed there,
and the oracle's results are cached per workload, seed and size. A single run prints every metric by name with its
unit on stderr and, as the last line of stdout, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics for
--trace 0, the per-layer metrics for --trace 1. Outputs are checked against
an oracle that does not go through graft (DuckDB over the same parquet, and
the planted corpus's closed form); any mismatch makes the exit code 1.

--all runs every workload untraced then traced, prints tracing overhead
(traced minus untraced end-to-end values), saves the results under
.bench_build/perfbench/ and rewrites BENCHMARK.json from the definitions
below.
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
REL = os.path.relpath(BENCH_DIR, ROOT)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

RUN_SECONDS = 10
# a run must end within this many seconds; a first run may also build
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 800

# the workloads BENCHMARK.json lists
WORKLOADS = [
    {"name": "tokens-clean",
     "why": "production path on mostly-valid tokens: scan, decode, the valid kernel, "
            "shuffling checks and KS/chi2 drift do the work; the error path does little"},
    {"name": "curate-planted",
     "why": "planted-truth corpus through Curation.curate: graft.ops does all the work, "
            "no validation code runs, survivors follow in closed form"},
]
# runnable by name and by --all but not listed: a comparison's runs of a
# third workload would not fit its time budget (see README.md)
EXTRA_WORKLOADS = [
    {"name": "tokens-dirty",
     "why": "a fifth of rows invalid, 5% doc_ids repeated, no drift reference: the error "
            "kernel, violation writes and the uniqueness join do the work"},
]

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "main_rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.25},
    {"name": "loop_rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.25},
]

CHECKS = ["row_constraint", "uniqueness", "stats", "referential", "drift_ks", "drift_chi2"]
CHECK_FIELDS = [("s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("task_skew", "ratio")]

PER_LAYER = (
    [("scan.count_s", "s", "lower"), ("scan.decode_tokens_s", "s", "lower"),
     ("compile.cold_ms", "ms", "lower"), ("compile.warm_ms", "ms", "lower"),
     ("compile.fused", "bool", "higher"),
     ("validate.valid_s", "s", "lower"), ("validate.errors_s", "s", "lower"),
     ("validate.kernel_self_s", "s", "lower")]
    + [(f"checks.{c}.{f}", u, "lower") for c in CHECKS for f, u in CHECK_FIELDS]
    + [("pipeline.jobs", "count", "lower"), ("pipeline.stages", "count", "lower"),
       ("pipeline.shuffle_write_bytes", "B", "lower"), ("pipeline.spill_bytes", "B", "lower"),
       ("pipeline.task_skew", "ratio", "lower"), ("pipeline.executor_cpu_s", "s", "lower"),
       ("pipeline.cpu_busy", "ratio", "higher"), ("pipeline.shared_s", "s", "higher"),
       ("pipeline.violations_bytes", "B", "lower"), ("pipeline.verdicts_bytes", "B", "lower"),
       ("pipeline.checkpoint_bytes", "B", "lower"), ("pipeline.first_run_s", "s", "lower"),
       ("resume.skipped_parts", "count", "higher"), ("resume.input_bytes", "B", "lower"),
       ("resume.jobs", "count", "lower"),
       ("ops.dedup_lines_s", "s", "lower"), ("ops.keep_canonical_s", "s", "lower"),
       ("ops.dedup_corpus_s", "s", "lower"),
       ("ops.curate.jobs", "count", "lower"), ("ops.curate.stages", "count", "lower"),
       ("ops.curate.shuffle_write_bytes", "B", "lower"), ("ops.curate.spill_bytes", "B", "lower"),
       ("ops.curate.task_skew", "ratio", "lower"), ("ops.near_dup_recall", "ratio", "higher"),
       ("jvm.gc_s", "s", "lower"), ("jvm.heap_peak_mb", "MB", "lower"),
       ("spark.cached_rdds_after", "count", "lower"), ("host.effective_cores", "cores", "higher"),
       ("validate_seq_per_s", "rows/s", "higher"), ("validate_tok_per_s", "tokens/s", "higher"),
       ("errors_seq_per_s", "rows/s", "higher"), ("pipeline_rows_per_s", "rows/s", "higher"),
       ("resume_s", "s", "lower"), ("out_bytes_per_in_byte", "B/B", "lower"),
       ("curate_docs_per_s", "docs/s", "higher"), ("failed_share", "ratio", "lower")]
    + [(f"traced.{m['name']}", m["unit"], m["better"]) for m in END_TO_END])
PER_LAYER = [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER]

# the ops of one pass of each workload's closed loop, and the production
# call among them that main_rows_per_s times
LOOP_OPS = {
    "tokens-clean": ["validate.valid", "validate.errors", "pipeline", "resume"],
    "tokens-dirty": ["validate.valid", "validate.errors", "pipeline", "resume"],
    "curate-planted": ["ops.dedup_lines", "ops.keep_canonical", "ops.dedup_corpus", "ops.curate"],
}
MAIN_OP = {"tokens-clean": "pipeline", "tokens-dirty": "pipeline", "curate-planted": "ops.curate"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- build

def source_files():
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(BENCH_DIR, "build.sbt"),
           os.path.join(BENCH_DIR, "project", "build.properties"),
           os.path.join(BENCH_DIR, "log4j2.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build(deadline):
    """Compiles library and benchmark when any source changed; returns the
    runtime classpath and the sources' hash."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")]
    for p in needed:
        if not os.path.exists(p):
            fail(f"{os.path.relpath(p, ROOT)} not found: run from a full checkout of the repo")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            got = fh.read().split("\n", 1)
        if got[0] == stamp and len(got) == 2:
            return got[1].strip(), stamp
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    log("perfbench: building (" + " ".join(cmd) + ")")
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True,
                           timeout=max(30, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        log(p.stdout[-4000:] + p.stderr[-2000:])
        fail(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp, stamp


# ---------------------------------------------------------------- running

def run_jvm(cp, workload, seed, seconds, trace, deadline):
    """Runs perfbench.Main once, killing it at the deadline; returns the
    result file it writes."""
    tag = f"{workload}-s{seed}-t{trace}"
    out = os.path.join(WORK, "results", tag + ".json")
    logf = os.path.join(WORK, "logs", tag + ".log")
    tmp = os.path.join(WORK, "tmp")
    for d in (os.path.dirname(out), os.path.dirname(logf), tmp):
        os.makedirs(d, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--work", WORK, "--seconds", str(seconds), "--trace", str(trace), "--out", out])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    t0 = time.time()
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(logf) as lf:
            log(lf.read()[-4000:])
        fail(f"{tag}: benchmark JVM " + ("timed out" if code is None else f"exited {code}"), 1)
    with open(out) as fh:
        res = json.load(fh)
    log(f"perfbench: {tag}: JVM {time.time() - t0:.1f} s, of which input generation "
        f"{res['inputs_s']:.1f} s")
    return res


# ---------------------------------------------------------------- oracle

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def token_oracle(info, stamp):
    """Expected per-part counts from the spec's definition, in DuckDB over
    the same parquet; cached per sources, workload, seed and size."""
    cache = os.path.join(WORK, "oracle", stamp[:16], info["inputs_id"] + ".json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return {int(k): v for k, v in json.load(fh).items()}
    vmax = info["vocab_size"] - 1
    # the dimension's active sources: every 7th source except src0 is inactive
    active = ", ".join(f"'src{i}'" for i in range(info["num_sources"]) if i % 7 != 0 or i == 0)
    # draft-4 over a closed struct, greedy: a NULL property is missing and
    # fails `required` once; a present one fails each keyword it breaks,
    # and `items` fails once per offending element
    q = f"""
    WITH t AS (SELECT * FROM read_parquet('{info["table"]}/*.parquet')),
    e AS (SELECT part, doc_id, source, len(tokens) AS ntokens,
      (CASE WHEN doc_id IS NULL THEN 1
            WHEN NOT regexp_full_match(doc_id, 'doc-[0-9]{{12}}') THEN 1 ELSE 0 END)
      + (CASE WHEN tokens IS NULL THEN 1
              ELSE (CASE WHEN len(tokens) < 1 THEN 1 ELSE 0 END)
                 + len(list_filter(tokens, x -> x IS NULL OR x < 0 OR x > {vmax})) END)
      + (CASE WHEN n_tok IS NULL OR n_tok < 1 THEN 1 ELSE 0 END)
      + (CASE WHEN source IS NULL OR length(source) < 1 THEN 1 ELSE 0 END) AS nerr
      FROM t),
    d AS (SELECT doc_id FROM t WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1)
    SELECT e.part, count(*), sum(CASE WHEN nerr > 0 THEN 1 ELSE 0 END), sum(nerr),
      sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END),
      sum(CASE WHEN e.source IS NULL OR e.source NOT IN ({active}) THEN 1 ELSE 0 END),
      sum(CASE WHEN e.doc_id IS NULL THEN 1 ELSE 0 END), sum(coalesce(ntokens, 0))
    FROM e LEFT JOIN d ON e.doc_id = d.doc_id GROUP BY e.part ORDER BY e.part"""
    keys = ["n_rows", "invalid_rows", "row_constraint", "uniqueness", "referential",
            "null_doc_ids", "tokens"]
    res = {int(r[0]): dict(zip(keys, [int(x) for x in r[1:]])) for r in duck().execute(q).fetchall()}
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump(res, fh)
    return res


def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-12)


def verdict_map(rows):
    return {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}


def check_fresh_verdicts(vm, orc, parts):
    errs = []
    names = {c for _, c in vm}
    if len(vm) != len(parts) * len(names):
        errs.append(f"{len(vm)} verdict rows for {len(parts)} parts x {len(names)} checks")
    for p in parts:
        o = orc.get(p, {"n_rows": 0, "invalid_rows": 0, "row_constraint": 0, "uniqueness": 0,
                        "referential": 0, "null_doc_ids": 0})
        for c in ("row_constraint", "uniqueness", "referential"):
            got = vm.get((p, c))
            if got is None or got[1] != o[c] or got[0] != (o[c] == 0):
                errs.append(f"part {p} {c}: got {got}, expected count {o[c]}")
        rc = vm.get((p, "row_count"))
        if rc is None or not close(rc[2], float(o["n_rows"])):
            errs.append(f"part {p} row_count: got {rc}, expected {o['n_rows']}")
        if o["n_rows"]:
            vr = vm.get((p, "row_constraint"))
            if vr and not close(vr[2], 1 - o["invalid_rows"] / o["n_rows"]):
                errs.append(f"part {p} valid rate {vr[2]}")
            nd = vm.get((p, "stats:doc_id"))
            if nd is None or not close(nd[2], o["null_doc_ids"] / o["n_rows"]):
                errs.append(f"part {p} stats:doc_id null rate: got {nd}")
    return errs


def same_verdicts(a, b):
    if a.keys() != b.keys():
        return [f"verdict keys differ: {sorted(set(a) ^ set(b))[:5]}"]
    return [f"{k}: {a[k]} vs {b[k]}" for k in a
            if a[k][:2] != b[k][:2] or not close(a[k][2], b[k][2], 1e-6)]


def check_snapshots(info, orc):
    """Resume equivalence on the saved outputs of iteration 0: violations
    equal as multisets, verdicts equal up to drift-metric float noise;
    violation rows per part and check match the oracle."""
    con = duck()
    errs = []
    f, r = info["snap_fresh"], info["snap_resumed"]
    if not (os.path.isdir(f) and os.path.isdir(r)):
        return ["output snapshots missing"]

    def view(name, d, table):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{d}/{table}/**/*.parquet', hive_partitioning = true)")
    view("vf", f, "violations")
    view("vr", r, "violations")
    cols = "part, doc_id, path, keyword, message, additional_properties, \"check\""
    for a, b in (("vf", "vr"), ("vr", "vf")):
        n = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL "
                        f"SELECT {cols} FROM {b})").fetchone()[0]
        if n:
            errs.append(f"{n} violation rows in {a} not in {b}")
    got = {(int(p), c): n for p, c, n in con.execute(
        'SELECT part, "check", count(*) FROM vf GROUP BY ALL').fetchall()}
    for p, o in orc.items():
        for c in ("row_constraint", "uniqueness", "referential"):
            if got.get((p, c), 0) != o[c]:
                errs.append(f"part {p} {c}: {got.get((p, c), 0)} violation rows, expected {o[c]}")
    view("df", f, "verdicts")
    view("dr", r, "verdicts")
    q = 'SELECT part, "check", passed, violation_count, metric_value FROM {}'
    vf = verdict_map([(int(x[0]),) + tuple(x[1:]) for x in con.execute(q.format("df")).fetchall()])
    vr = verdict_map([(int(x[0]),) + tuple(x[1:]) for x in con.execute(q.format("dr")).fetchall()])
    errs += same_verdicts(vf, vr)
    return errs


def judge_tokens(res, stamp):
    info = res["info"]
    orc = token_oracle(info, stamp)
    parts = list(range(info["parts"]))
    removed = sorted(info["removed_parts"])
    kept = sorted(set(parts) - set(removed))
    n_rows = sum(o["n_rows"] for o in orc.values())
    fresh_by_iter = {}
    problems = {}
    for i, op in enumerate(res["ops"]):
        o, errs = op["obs"], []
        if op["error"]:
            errs.append(op["error"])
        elif op["op"] == "scan.count":
            if o["rows"] != n_rows:
                errs.append(f"scan counted {o['rows']} rows, expected {n_rows}")
        elif op["op"] == "validate.valid":
            exp = sum(x["invalid_rows"] for x in orc.values())
            if o["invalid_rows"] != exp:
                errs.append(f"invalid rows {o['invalid_rows']}, expected {exp}")
        elif op["op"] == "validate.errors":
            exp = sum(x["row_constraint"] for x in orc.values())
            if o["error_records"] != exp:
                errs.append(f"error records {o['error_records']}, expected {exp}")
        elif op["op"] in ("pipeline", "prime.pipeline"):
            vm = verdict_map(o["verdicts"])
            fresh_by_iter[op["iter"]] = vm
            if o["processed_parts"] != parts or o["skipped_parts"] or o["rows_validated"] != n_rows:
                errs.append(f"fresh run processed {o['processed_parts']} skipped "
                            f"{o['skipped_parts']} rows {o['rows_validated']}")
            errs += check_fresh_verdicts(vm, orc, parts)
        elif op["op"] == "resume":
            exp_rows = sum(orc[p]["n_rows"] for p in removed if p in orc)
            if o["skipped_parts"] != kept or o["processed_parts"] != removed \
                    or o["rows_validated"] != exp_rows:
                errs.append(f"resume skipped {o['skipped_parts']} processed "
                            f"{o['processed_parts']} rows {o['rows_validated']}; expected "
                            f"skipped {kept} processed {removed} rows {exp_rows}")
            errs += same_verdicts(fresh_by_iter.get(op["iter"], {}), verdict_map(o["verdicts"]))
        if errs:
            problems[i] = errs
    first_resume = next((i for i, op in enumerate(res["ops"])
                         if op["op"] == "resume" and op["iter"] == 0), None)
    if first_resume is not None:
        errs = check_snapshots(info, orc)
        if errs:
            problems.setdefault(first_resume, []).extend(errs)
    return problems, orc


def judge_curate(res):
    """Checks every curate pass against the planted corpus's closed form."""
    info = res["info"]
    lo = info["n_base"] + info["n_pii"]
    hi = lo + info["n_near"] // 100  # >= 99% near-clone recall; LSH is probabilistic
    want = {"bases": info["n_base"], "exact_clones": 0, "pii": info["n_pii"], "junk": 0,
            "hot": 0, "banner": 0, "at_signs": 0, "email_redactions": info["n_pii"]}
    problems = {}
    for i, op in enumerate(res["ops"]):
        cf, errs = op["obs"], []
        if op["error"]:
            errs.append(op["error"])
        elif op["op"] == "ops.dedup_lines":
            # the hot doc is routed out, every other doc keeps a row
            if cf["rows"] != info["n"]:
                errs.append(f"dedupLines kept {cf['rows']} docs, expected {info['n']}")
        elif op["op"] == "ops.keep_canonical":
            # one row per distinct text: exact clones fold into their bases
            exp = info["n"] + 1 - info["n_exact"]
            if cf["rows"] != exp:
                errs.append(f"keepCanonical kept {cf['rows']} docs, expected {exp}")
        elif op["op"] == "ops.dedup_corpus":
            exp = info["n"] + 1 - info["n_exact"] - info["n_near"]
            if not exp <= cf["rows"] <= exp + info["n_near"] // 100:
                errs.append(f"dedupCorpus kept {cf['rows']} docs, expected {exp} "
                            f"(+1% of near clones)")
        elif op["op"] == "ops.curate":
            if not lo <= cf["survivors"] <= hi:
                errs.append(f"survivors {cf['survivors']} outside [{lo}, {hi}]")
            errs += [f"{k}: {cf[k]}, expected {v}" for k, v in want.items() if cf[k] != v]
            if cf["min_quality"] is None or cf["min_quality"] < 0.5:
                errs.append(f"quality floor violated: {cf['min_quality']}")
            splits = cf["train"] + cf["val"] + cf["test"]
            if splits != cf["survivors"] or min(cf["train"], cf["val"], cf["test"]) == 0:
                errs.append(f"splits {cf['train']}/{cf['val']}/{cf['test']} of {cf['survivors']}")
            elif not 0.96 < cf["train"] / splits < 0.99:
                errs.append(f"train fraction {cf['train'] / splits:.4f} outside (0.96, 0.99)")
        if errs:
            problems[i] = errs
    return problems


# ---------------------------------------------------------------- metrics

def op_seconds(res, name):
    return [op["s"] for op in res["ops"] if op["op"] == name]


def op_counters(res, name):
    cs = [op["counters"] for op in res["ops"] if op["op"] == name and op["counters"]]
    if not cs:
        return {}
    return {k: median([c[k] for c in cs]) for k in cs[0]}


def compute_metrics(res, orc, failed, attempted):
    wl = res["workload"]
    rows = res["rows"]
    loop = LOOP_OPS[wl]
    med = {name: median(op_seconds(res, name)) for name in loop}
    passes = {}
    for op in res["ops"]:
        if op["iter"] >= 0:
            passes[op["iter"]] = passes.get(op["iter"], 0.0) + op["s"]
    pass_s = median(list(passes.values()))
    e2e = {"setup_s": median(res["setup_s"]),
           "main_rows_per_s": rows / med[MAIN_OP[wl]] if med[MAIN_OP[wl]] else 0.0,
           "loop_rows_per_s": rows / pass_s if pass_s else 0.0}

    L = {}
    scan_decode = median(op_seconds(res, "scan.decode_tokens"))
    L["scan.count_s"] = median(op_seconds(res, "scan.count"))
    L["scan.decode_tokens_s"] = scan_decode
    L["compile.cold_ms"] = res["compile_ms"][0]
    L["compile.warm_ms"] = res["layer"].get("compile.warm_ms", 0.0)
    L["compile.fused"] = res["layer"].get("compile.fused", 0.0)
    L["validate.valid_s"] = med.get("validate.valid", 0.0)
    L["validate.errors_s"] = med.get("validate.errors", 0.0)
    L["validate.kernel_self_s"] = (L["validate.valid_s"] - scan_decode) if scan_decode else 0.0
    checks_total = 0.0
    for c in CHECKS:
        s = median(op_seconds(res, f"checks.{c}"))
        checks_total += s
        cnt = op_counters(res, f"checks.{c}")
        L[f"checks.{c}.s"] = s
        for f, _ in CHECK_FIELDS[1:]:
            L[f"checks.{c}.{f}"] = cnt.get(f, 0)
    pc = op_counters(res, "pipeline")
    rc = op_counters(res, "resume")
    fresh = [op["obs"] for op in res["ops"] if op["op"] == "pipeline" and not op["error"]]
    last = fresh[-1] if fresh else {}
    pipe_s = med.get("pipeline", 0.0)
    for k in ("jobs", "stages", "shuffle_write_bytes", "spill_bytes", "task_skew"):
        L[f"pipeline.{k}"] = pc.get(k, 0)
    L["pipeline.executor_cpu_s"] = pc.get("cpu_s", 0.0)
    L["pipeline.cpu_busy"] = pc.get("cpu_s", 0.0) / (pipe_s * res["cores"]) if pipe_s else 0.0
    L["pipeline.shared_s"] = (checks_total - pipe_s) if pc and checks_total else 0.0
    for k in ("violations_bytes", "verdicts_bytes", "checkpoint_bytes"):
        L[f"pipeline.{k}"] = last.get(k, 0)
    # the untimed priming run's cost, which graft.Main pays on every submit
    L["pipeline.first_run_s"] = next(
        (op["s"] for op in res["ops"] if op["op"] == "prime.pipeline"), 0.0)
    resumes = [op["obs"] for op in res["ops"] if op["op"] == "resume" and not op["error"]]
    L["resume.skipped_parts"] = len(resumes[-1]["skipped_parts"]) if resumes else 0
    L["resume.input_bytes"] = rc.get("input_bytes", 0)
    L["resume.jobs"] = rc.get("jobs", 0)
    L["ops.dedup_lines_s"] = med.get("ops.dedup_lines", 0.0)
    L["ops.keep_canonical_s"] = med.get("ops.keep_canonical", 0.0)
    L["ops.dedup_corpus_s"] = med.get("ops.dedup_corpus", 0.0)
    cc = op_counters(res, "ops.curate")
    for k in ("jobs", "stages", "shuffle_write_bytes", "spill_bytes", "task_skew"):
        L[f"ops.curate.{k}"] = cc.get(k, 0)
    kept = [op["obs"]["near_clones"] for op in res["ops"]
            if op["op"] == "ops.curate" and not op["error"]]
    L["ops.near_dup_recall"] = 1 - median(kept) / res["info"]["n_near"] if kept else 0.0
    j = res["jvm"]
    L["jvm.gc_s"] = j["gc_s"]
    L["jvm.heap_peak_mb"] = j["heap_peak_mb"]
    L["spark.cached_rdds_after"] = max([op["cached_rdds_after"] for op in res["ops"]] +
                                       [j["cached_rdds_after"]])
    L["host.effective_cores"] = min(j["effective_cores_start"], j["effective_cores_end"])
    n_tokens = sum(o["tokens"] for o in orc.values()) if orc else 0
    L["validate_seq_per_s"] = rows / L["validate.valid_s"] if L["validate.valid_s"] else 0.0
    L["validate_tok_per_s"] = n_tokens / L["validate.valid_s"] if L["validate.valid_s"] else 0.0
    L["errors_seq_per_s"] = rows / L["validate.errors_s"] if L["validate.errors_s"] else 0.0
    L["pipeline_rows_per_s"] = rows / pipe_s if pipe_s else 0.0
    L["resume_s"] = med.get("resume", 0.0)
    out_b = sum(last.get(k, 0) for k in ("violations_bytes", "verdicts_bytes", "checkpoint_bytes"))
    L["out_bytes_per_in_byte"] = out_b / res["input_bytes"]
    L["curate_docs_per_s"] = rows / med["ops.curate"] if med.get("ops.curate") else 0.0
    L["failed_share"] = failed / attempted if attempted else 0.0
    for k, v in e2e.items():
        L[f"traced.{k}"] = v
    return e2e, L


def one_run(built, workload, seed, seconds, trace, deadline):
    """One measured run, judged; `built` is build()'s (classpath, hash)."""
    cp, stamp = built
    res = run_jvm(cp, workload, seed, seconds, trace, deadline)
    if workload.startswith("tokens"):
        problems, orc = judge_tokens(res, stamp)
    else:
        problems, orc = judge_curate(res), None
    attempted = len(res["ops"])
    failed = len(problems)
    e2e, layer = compute_metrics(res, orc, failed, attempted)
    for i, errs in sorted(problems.items()):
        op = res["ops"][i]
        for e in errs[:10]:
            log(f"FAILED {workload} iter {op['iter']} {op['op']}: {e}")
    return e2e, layer, attempted, failed


def print_metrics(title, values, defs):
    log(title)
    for d in defs:
        v = values.get(d["name"])
        if v is not None:
            log(f"  {d['name']:<36} {v:>16.6g} {d['unit']}")


def benchmark_json():
    return {"command": ["python3", f"{REL}/run.py"], "paths": [REL],
            "run_seconds": RUN_SECONDS,
            "workloads": WORKLOADS, "end_to_end": END_TO_END, "per_layer": PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[w["name"] for w in WORKLOADS + EXTRA_WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true",
                    help="every workload, untraced then traced; rewrites BENCHMARK.json")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    start = time.time()
    built = build(start + BUILD_BUDGET_S)
    if not a.all:
        deadline = time.time() + RUN_BUDGET_S
        e2e, layer, attempted, failed = one_run(
            built, a.workload, a.seed, a.seconds, a.trace, deadline)
        values, defs = (layer, PER_LAYER) if a.trace else (e2e, END_TO_END)
        print_metrics(f"{a.workload} seed {a.seed} trace {a.trace}: "
                      f"{attempted} ops, {failed} failed", values, defs)
        metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in defs}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        sys.exit(0 if failed == 0 else 1)

    summary = {}
    bad = 0
    for w in WORKLOADS + EXTRA_WORKLOADS:
        name = w["name"]
        e2e, _, att0, f0 = one_run(built, name, a.seed, a.seconds, 0, time.time() + RUN_BUDGET_S)
        _, layer, att1, f1 = one_run(built, name, a.seed, a.seconds, 1, time.time() + RUN_BUDGET_S)
        bad += f0 + f1
        overhead = {m["name"]: layer[f"traced.{m['name']}"] - e2e[m["name"]] for m in END_TO_END}
        print_metrics(f"== {name} (seed {a.seed}) end to end, untraced: "
                      f"{att0} ops, {f0} failed", e2e, END_TO_END)
        print_metrics(f"== {name} per layer, traced: {att1} ops, {f1} failed", layer, PER_LAYER)
        print_metrics(f"== {name} tracing overhead (traced - untraced)", overhead, END_TO_END)
        summary[name] = {"end_to_end": e2e, "per_layer": layer, "tracing_overhead": overhead,
                         "attempted": att0 + att1, "failed": f0 + f1}
    with open(os.path.join(WORK, "all.json"), "w") as fh:
        json.dump({"seed": a.seed, "seconds": a.seconds, "workloads": summary}, fh, indent=1)
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
        json.dump(benchmark_json(), fh, indent=2)
        fh.write("\n")
    log(f"perfbench: wrote BENCHMARK.json and {os.path.relpath(WORK, ROOT)}/all.json")
    sys.exit(0 if bad == 0 else 1)


if __name__ == "__main__":
    main()
