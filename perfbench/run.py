#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

The first run in a checkout compiles the program together with the
harness in perfbench/harness (sbt, offline). Inputs are generated from
the seed and cached under .bench_build/inputs; the set-up phase warms up
on inputs of another seed. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; the exit code is 0 only
when every correctness check passed. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ["convert_corpus", "curate_index_serve"]

# (name, unit): printed with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("op_p90_s", "s"),
    ("pipeline_s", "s"),
    ("units_per_s", "1/s"),
    ("retained_heap_mb", "MB"),
]

# (name, unit): printed with --trace 1; a layer the workload does not
# exercise reads 0
PER_LAYER = [
    ("session.build_s", "s"), ("session.warmup_s", "s"),
    ("excel.layout_s", "s"), ("excel.xlsx_scan_mcells_per_s", "Mcells/s"),
    ("excel.xlsb_scan_mcells_per_s", "Mcells/s"), ("excel.split_spill_s", "s"),
    ("convert.scan_only_s", "s"), ("convert.write_s", "s"), ("convert.recount_s", "s"),
    ("convert.task_busy_frac", "frac"), ("convert.out_bytes", "bytes"),
    ("convert.row_groups", "count"), ("convert.mcells_per_s", "Mcells/s"),
    ("convert.out_bytes_per_cell", "bytes"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("driver.jobs_per_op", "count"), ("driver.outside_jobs_s", "s"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.input_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.output_bytes", "bytes"),
    ("residue.persisted_rdds", "count"), ("residue.storage_mb", "MB"),
    ("residue.checkpoint_dirs", "count"),
    ("curate.candidate_pairs", "count"), ("curate.verified_pairs", "count"),
    ("curate.verify_yield", "frac"), ("curate.cc_s", "s"), ("curate.cc_jobs", "count"),
    ("curate.wall_s", "s"),
    ("index.centroid_s", "s"), ("index.books_s", "s"), ("index.encode_s", "s"),
    ("index.build_s", "s"),
    ("append.encode_s", "s"), ("append.write_s", "s"), ("append.rows_per_s", "1/s"),
    ("sql.p50_s", "s"),
    ("serve.jobs_per_probe", "count"), ("serve.task_cpu_s", "s"), ("serve.p50_s", "s"),
    ("observed.lsh_buckets_dropped", "count"), ("observed.lsh_docs_in_dropped", "count"),
    ("stream.events_per_s", "1/s"), ("stream.triggers", "count"), ("stream.trigger_s", "s"),
    ("stream.add_batch_s", "s"), ("stream.planning_s", "s"), ("stream.wal_commit_s", "s"),
    ("state.shards", "count"), ("state.rows", "count"), ("state.memory_bytes", "bytes"),
    ("state.commit_s", "s"),
    ("bench.tracing_overhead_frac", "frac"), ("bench.unattributed_frac", "frac"),
]

# Warm-up inputs come from another seed and are smaller: they exist to
# warm the JIT and Spark's code caches, which depends on the code paths
# run, not on the data size.
WARM_SEED = 1000003
WARM_SCALE = 0.25
RUN_BUDGET_S = 175
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return max(1, len(os.sched_getaffinity(0)))


def source_stamp(root):
    """Hash of every file the build reads, so a changed program rebuilds."""
    h = hashlib.sha1()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness", "src"),
            os.path.join(HERE, "harness", "build.sbt"),
            os.path.join(HERE, "harness", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root, work):
    stamp = source_stamp(root)
    cp_file = os.path.join(work, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building the program and harness (sbt, offline)")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    cp = lines[-1].strip()
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, tmpdir, args):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "graftbench.Main"] + args)


def generator_stamp():
    """Inputs are cached per seed and per version of their generators."""
    h = hashlib.sha1()
    for p in ("tables.py", "harness/src/main/scala/graftbench/Corpus.scala"):
        with open(os.path.join(HERE, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_inputs(cp, work, seed, need_corpus, scale):
    """Generate (once) and return the input dirs for `seed`."""
    import tables
    base = os.path.join(work, "inputs", f"s{seed}-x{scale}-{generator_stamp()}")
    tdir, cdir = os.path.join(base, "tables"), os.path.join(base, "corpus")
    os.makedirs(base, exist_ok=True)
    if not need_corpus and not os.path.exists(tdir):
        t0 = time.time()
        tmp = f"{tdir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tables.generate(seed, tmp, scale)
        os.replace(tmp, tdir)
        log(f"generated tables for seed {seed} in {time.time() - t0:.1f} s")
    if need_corpus and not os.path.exists(cdir):
        t0 = time.time()
        tmp = f"{cdir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        scratch = os.path.join(work, "gen-tmp")
        os.makedirs(scratch, exist_ok=True)
        subprocess.run(java_cmd(cp, scratch, ["gen-corpus", "--seed", str(seed), "--dir", tmp,
                                                 "--scale", str(scale)]),
                       check=True, stdin=subprocess.DEVNULL, timeout=120)
        os.replace(tmp, cdir)
        log(f"generated workbook corpus for seed {seed} in {time.time() - t0:.1f} s")
    return tdir, cdir


def oracle_digests(work, checks):
    """DuckDB side of each dump: run the oracle SQL on the same tables,
    digest both in a canonical form, cache the oracle digest per input."""
    import duckdb
    cache_path = os.path.join(work, "oracle-cache.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    out = []
    for c in checks:
        key = hashlib.sha1((c["sql"] + "\0" + c["tables"]).encode()).hexdigest()
        con = duckdb.connect()
        for f in sorted(os.listdir(c["tables"])):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{c['tables']}/{f}'")
        if key not in cache:
            cache[key] = digest(con.sql(c["sql"]))
        got = digest(con.sql(f"SELECT * FROM '{c['dump']}/*.parquet'"))
        out.append((c, cache[key], got))
        con.close()
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_path + ".tmp", cache_path)
    return out


def digest(rel):
    """Column names sorted, types normalised, every cell by repr — the
    comparison the repository's oracle check makes, as one hash."""
    def norm_type(t):
        s = str(t).upper()
        return "TIMESTAMP" if s.startswith("TIMESTAMP") else s

    def canon(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    h = hashlib.sha1(repr((cols, [norm_type(rel.types[i]) for i in idx])).encode())
    for r in rel.fetchall():
        h.update(repr(tuple(canon(r[i]) for i in idx)).encode())
    return h.hexdigest()


def run(args, root):
    started = time.time()
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)
    started = time.time()  # the build is the one step allowed to run long
    n = cores()
    warm = WARM_SEED if args.seed != WARM_SEED else WARM_SEED + 1
    convert = args.workload == "convert_corpus"
    tdir, cdir = ensure_inputs(cp, work, args.seed, convert, 1.0)
    wtdir, wcdir = ensure_inputs(cp, work, warm, convert, WARM_SCALE)

    rundir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(rundir, "result.json")
    sidecar = os.path.join(work, "traces", f"{args.workload}-{args.seed}.json")
    jargs = ["run", "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(n),
             "--inputs", tdir, "--warm-inputs", wtdir, "--corpus", cdir, "--warm-corpus", wcdir,
             "--out", out, "--sidecar", sidecar]
    if args.corrupt:
        jargs += ["--corrupt", args.corrupt]
    try:
        with open(os.path.join(rundir, "jvm.log"), "w") as logf:
            budget = RUN_BUDGET_S - (time.time() - started)
            t0 = time.time()
            p = subprocess.Popen(java_cmd(cp, tmp, jargs), stdout=logf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=max(10, budget - 10))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit("harness exceeded its time budget")
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(rundir, "jvm.log")).read()[-6000:])
            raise SystemExit(f"harness failed (exit {rc})")
        log(f"harness ran in {time.time() - t0:.1f} s")
        res = json.load(open(out))
        failed, attempted = res["failed"], res["attempted"]
        errors = list(res["errors"])
        t0 = time.time()
        checked = oracle_digests(work, res["oracle"])
        log(f"DuckDB oracle checks took {time.time() - t0:.1f} s")
        for c, want, got in checked:
            if want != got:
                failed += c["ops"]
                errors.append(f"{c['name']}: result differs from the DuckDB oracle")
        failed = min(failed, attempted)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    for e in errors:
        log(f"check failed: {e}")
    src = res["metrics"] if args.trace == 0 else res["layers"]
    names = END_TO_END if args.trace == 0 else PER_LAYER
    metrics = {}
    for name, unit in names:
        v = src.get(name, None if args.trace == 0 else 0.0)
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            raise SystemExit(f"metric {name} was not measured")
        metrics[name] = {"value": v, "unit": unit}
    if args.trace == 1:
        log(f"trace sidecar: {sidecar}")
    correct = failed == 0 and not errors
    log(f"{args.workload} seed {args.seed}: {res['loop_ops']} loop ops, "
        f"{attempted} attempted, {failed} failed")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


# Each gate, the workload it guards and the output corrupted to prove it
# can fail: dropping one row of that output must fail the run.
GATES = [
    ("convert_corpus", "convert"),
    ("curate_index_serve", "q05_join_star"),
    ("curate_index_serve", "dedup_clusters"),
    ("curate_index_serve", "serve"),
    ("curate_index_serve", "tws_rollup"),
]


def self_test(root):
    bad = []
    for workload, gate in GATES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", "11",
               "--seconds", "1", "--trace", "0", "--corrupt", gate]
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        last = (p.stdout.strip().splitlines() or ["{}"])[-1]
        try:
            r = json.loads(last)
        except ValueError:
            r = {}
        caught = p.returncode != 0 and r.get("correct") is False and r.get("failed", 0) >= 1
        log(f"gate {gate} on {workload}: {'caught' if caught else 'NOT caught'}")
        if not caught:
            bad.append(gate)
            sys.stderr.write(p.stderr[-3000:])
    print(json.dumps({"self_test": "pass" if not bad else "fail", "missed": bad}))
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", default="", help=argparse.SUPPRESS)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no graft sources here: run from the root of a graft checkout")
        return 2
    if args.self_test:
        return self_test(root)
    if not args.workload:
        ap.error("--workload is required")
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
