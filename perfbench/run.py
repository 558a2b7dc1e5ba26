#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <star_etl|iterative|ingest> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (perfbench/harness, an sbt build that depends on the
repository's own build) and caches the classpath and a class-data-sharing
archive under $CARGO_TARGET_DIR (default .bench_build). Each run then

  1. generates its input tables from --seed (perfbench/gen.py);
  2. runs the JVM harness (perfbench.Main): set-up is a Spark session,
     GraftExtensions.register and two untimed warm-up passes; then timed
     passes for --seconds, one operation in flight at a time; with
     --trace 1, every other pass with listeners;
  3. checks outputs: every query result of the first warm-up pass must equal
     its DuckDB oracle (SparkEntry.oracleSql) over the same tables; the
     ingest decision record must hold one row per offered doc with no
     planted duplicate kept, and lookups must find the docs they copy;
  4. prints a report, then one JSON line: end-to-end metrics (--trace 0) or
     per-layer metrics (--trace 1); exits with 1 after it if a check failed.

Everything it writes stays under .bench_work/ in the checkout; the per-run
directory is deleted at the end, the traced run's spans are kept in
.bench_work/traces/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

CONTRACT_WORKLOADS = ("star_etl", "ingest")  # the workloads BENCHMARK.json names
WORKLOADS = CONTRACT_WORKLOADS + ("iterative",)
HOLDOUT_SEED = 20261017  # confirm a claimed gain on this seed too (never tune on it)
WARMUPS = 2     # warm-up passes in set-up; the first is the correctness pass
MIN_PASSES = 3  # timed passes per run at least, so pass_s is a median of three
SCALE = 0.01    # generated tables: 60k lineitem rows, 500 documents
JVM_TIMEOUT_S = 160
HEAP = "2g"     # fixed heap and young generation: the resident high-water mark
YOUNG = "640m"  # then moves with retained data, not with GC sizing decisions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "driver.build_s": "s", "driver.idle_s": "s", "driver.jobs": "count",
    "storage.rdd_blocks": "count",
    "plan.analysis_s": "s", "plan.optimizer_s": "s", "plan.physical_s": "s",
    "plan.actions": "count", "plan.codegen_classes": "count", "plan.codegen_s": "s",
    "exec.stages": "count", "exec.tasks": "count", "exec.single_task_stages": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "io.input_mb": "MB", "io.output_mb": "MB",
    "ingest.snapshot_s": "s", "ingest.oov_s": "s", "ingest.dedup_s": "s",
    "ingest.kept_s": "s", "ingest.stats_ivf_s": "s", "ingest.record_write_s": "s",
    "ingest.maintenance_s": "s", "ingest.lookup_s": "s",
    "ingest.docs_per_s": "1/s", "ingest.batch_p50_s": "s", "ingest.lookup_p50_s": "s",
    "self.op_s": "s", "self.action_s": "s", "self.job_s": "s", "self.stage_s": "s",
    "trace.overhead_s": "s", "scratch.tmp_entries": "count", "scratch.tmp_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(msg, flush=True)


# --------------------------------------------------------------------- build

def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def java_cmd(cp, *opts):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Dspark.ui.enabled=false"]
            + list(opts) + ["-cp", cp])


def classpath():
    """Build engine + harness once per checkout; return the runtime classpath.

    sbt compiles both; the classes directories are then packed into jars and
    a class-data-sharing archive is recorded from one untimed warm-up run, so
    every later JVM maps the engine's and Spark's classes instead of loading
    them one by one (the same archive procedure for every commit)."""
    bdir = build_dir()
    stamp = os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx3g")
    t0 = time.time()
    with open(os.path.join(bdir, "build.log"), "w") as logf:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True, timeout=500)
        logf.write(res.stdout)
    lines = [ln for ln in res.stdout.splitlines() if "perfbench" in ln and "classes" in ln
             and not ln.startswith("[")]
    if res.returncode != 0 or not lines:
        fail(f"build failed (see {bdir}/build.log)")
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(bdir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for dp, _, fs in os.walk(entry):
                    for f in sorted(fs):
                        full = os.path.join(dp, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        entries.append(entry)
    cp = os.pathsep.join(entries)
    train = os.path.join(bdir, "train")
    gen.write(0, SCALE, os.path.join(train, "data"))
    jsa = os.path.join(bdir, "classes.jsa")
    with open(os.path.join(bdir, "train.log"), "w") as logf:
        res = subprocess.run(
            java_cmd(cp, f"-XX:ArchiveClassesAtExit={jsa}",
                     f"-Djava.io.tmpdir={train}")
            + ["perfbench.Main", "--workload", "star_etl", "--seed", "0", "--seconds", "0",
               "--trace", "0", "--data", os.path.join(train, "data"), "--work", train,
               "--cores", "2", "--warmups", "1", "--min-passes", "0", "--out", os.path.join(train, "out.json")],
            cwd=train, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=JVM_TIMEOUT_S)
    shutil.rmtree(train, ignore_errors=True)
    if res.returncode != 0 or not os.path.exists(jsa):
        fail(f"class-data-sharing archive failed (see {bdir}/train.log)")
    with open(stamp, "w") as f:
        f.write(cp)
    log(f"built engine and harness in {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------- checks

def normalize(df):
    """Columns sorted by name, values stringified (floats by repr, nulls as
    NULL), rows sorted: the repository's oracle comparison convention."""
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith("float"):
            df[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        else:
            df[c] = col.map(lambda v: "NULL" if pd.isna(v) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_check(check_dir, out_dir, oracle):
    """Compare every query's Spark output with its DuckDB oracle; returns the
    list of mismatches."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in os.listdir(check_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(check_dir, t)}')")
    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if sql is None:
            bad.append(f"{name}: no oracle SQL")
            continue
        if not files:
            bad.append(f"{name}: no Spark output")
            continue
        exp = con.execute(sql).df()
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if sorted(got.columns) != sorted(exp.columns):
            bad.append(f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
        elif len(got) != len(exp):
            bad.append(f"{name}: {len(got)} rows != oracle {len(exp)}")
        elif (normalize(got) != normalize(exp)).any().any():
            bad.append(f"{name}: values differ from oracle")
    return bad


# ------------------------------------------------------------------ metrics

def guide_tail(samples):
    """The highest percentile with at least ten samples beyond it, and that
    percentile (None with fewer than eleven samples)."""
    xs = sorted(samples)
    if len(xs) < 11:
        return None
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def op_p50(passes):
    """Each operation's median latency over the passes, geometric mean over
    the workload's operations. An operation is a name and its occurrence in
    the pass: ingest's two batches are two operations."""
    lat = {}
    for p in passes:
        seen = {}
        for o in p["ops"]:
            k = (o["name"], seen.get(o["name"], 0))
            seen[o["name"]] = k[1] + 1
            if o["ok"]:
                lat.setdefault(k, []).append(o["secs"])
    return math.exp(statistics.mean(math.log(statistics.median(v)) for v in lat.values()))


def op_tail(passes):
    """Slowest successful operation of each pass, median over passes."""
    return statistics.median(max(o["secs"] for o in p["ops"] if o["ok"])
                             for p in passes if any(o["ok"] for o in p["ops"]))


def span_self_times(spans):
    """Self time per span kind: duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        iv = sorted(kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            a, b = max(a, s["start_ms"]), min(b, s["end_ms"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0
        own = max(0, s["end_ms"] - s["start_ms"] - covered) / 1e3
        out[s["kind"]] = out.get(s["kind"], 0.0) + own
    return out


def end_to_end(res):
    plain = [p for p in res["passes"] if not p["traced"]]
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(p["secs"] for p in plain),
        "op_p50_s": op_p50(plain),
        "op_tail_s": op_tail(plain),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, workload, names, cores, tmp):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    n = max(1, len(traced))
    m = {k: 0.0 for k in LAYER_UNITS}
    for p in traced:
        for o in p["ops"]:
            for k, v in (o["layers"] or {}).items():
                if k in m:
                    m[k] += v / n
    wall = statistics.mean(p["secs"] for p in traced) if traced else 1.0
    m["exec.busy_frac"] = m["exec.run_s"] / (cores * wall)
    selfs = span_self_times(res.get("spans", []))
    for kind in ("op", "action", "job", "stage"):
        m[f"self.{kind}_s"] = selfs.get(kind, 0.0) / n
    if traced and plain:
        m["trace.overhead_s"] = (statistics.median(p["secs"] for p in traced)
                                 - statistics.median(p["secs"] for p in plain))
    ops = [o for p in res["passes"] for o in p["ops"] if o["ok"]]
    if workload == "ingest":
        batches = [o for o in ops if o["kind"] == "batch"]
        lookups = [o["secs"] for o in ops if o["kind"] == "lookup"]
        m["ingest.docs_per_s"] = sum(o["docs"] for o in batches) / sum(o["secs"] for o in batches)
        m["ingest.batch_p50_s"] = statistics.median(o["secs"] for o in batches)
        m["ingest.lookup_p50_s"] = statistics.median(lookups)
    m["scratch.tmp_entries"], m["scratch.tmp_mb"] = tmp
    units = dict(LAYER_UNITS)
    for q in names:
        secs = [o["secs"] for o in ops if o["name"] == q]
        m[f"query.{q}_s"] = statistics.median(secs) if secs else 0.0
        units[f"query.{q}_s"] = "s"
    return m, units


def dir_usage(path):
    entries, size = 0, 0
    if os.path.isdir(path):
        entries = len(os.listdir(path))
        for dp, _, fs in os.walk(path):
            for f in fs:
                try:
                    size += os.path.getsize(os.path.join(dp, f))
                except OSError:
                    pass
    return float(entries), size / 2**20


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    ap.add_argument("--min-passes", type=int, default=MIN_PASSES, help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} does not hold the engine's sources (build.sbt, src/main/scala/graft)")
    cp = classpath()

    work = os.path.join(ROOT, ".bench_work", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        data = os.path.join(work, "data")
        gen.write(a.seed, a.scale, data)
        cores = len(os.sched_getaffinity(0))
        out = os.path.join(work, "result.json")
        jsa = os.path.join(build_dir(), "classes.jsa")
        cmd = (java_cmd(cp, f"-Djava.io.tmpdir={tmp}", f"-XX:SharedArchiveFile={jsa}")
               + ["perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", data, "--work", work,
                  "--cores", str(cores), "--warmups", str(WARMUPS),
                  "--min-passes", str(a.min_passes), "--out", out])
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"harness exited with {rc}")
        with open(out) as f:
            res = json.load(f)
        tmp_use = dir_usage(tmp)

        # ---- correctness
        chk = res["check"]
        problems = list(chk.get("errors", []))
        if a.workload == "ingest":
            for k, v in chk.items():
                if isinstance(v, dict) and not v.get("ok"):
                    problems.append(f"{k}: {v}")
        else:
            problems += oracle_check(data, os.path.join(work, "check"), chk["oracle"])
        correct = not problems

        # ---- report
        every = [o for p in res["passes"] for o in p["ops"]]
        failed = [o for o in every if not o["ok"]]
        ops = [o for p in res["passes"] if not p["traced"] for o in p["ops"]]
        log(f"perfbench workload={a.workload} seed={a.seed} holdout_seed={HOLDOUT_SEED}")
        log(f"cores={cores} setup={res['setup_s']:.3f} s "
            f"passes={len(res['passes'])} (traced {sum(p['traced'] for p in res['passes'])})")
        log("set-up: " + " ".join(f"{w['name']}={w['secs']:.3f}" for w in res["warmup"]))
        log(f"correctness: {'ok' if correct else 'FAILED'} {json.dumps(chk.get('ingest', ''))}")
        for p in problems:
            log(f"  check failed: {p}")
        log(f"operations: attempted={len(every)} failed={len(failed)} "
            f"fail_frac={len(failed) / len(every):.4f}")
        for o in failed:
            log(f"  failure: {o['name']}: {o['error']}")
        for i, p in enumerate(res["passes"]):
            log(f"  pass {i}{' traced' if p['traced'] else ''}: {p['secs']:.3f} s  "
                + " ".join(f"{o['name']}={o['secs']:.3f}" for o in p["ops"]))
        log(f"scratch under java.io.tmpdir after the run: {tmp_use[0]:.0f} entries, "
            f"{tmp_use[1]:.1f} MB (deleted)")
        if not any(o["ok"] for o in ops):
            fail("no operation succeeded")

        if a.trace == 0:
            metrics = end_to_end(res)
            good = [o["secs"] for o in ops if o["ok"]]
            gt = guide_tail(good)
            log(f"{len(good)} operation samples; op_tail_s is the slowest operation per "
                "pass, median over passes" + (f"; the highest percentile with ten samples "
                f"beyond it is p{gt[1]:.1f} = {gt[0]:.4f} s" if gt else ""))
            if a.workload == "ingest":
                b = [o for o in ops if o["kind"] == "batch" and o["ok"]]
                lk = [o["secs"] for o in ops if o["kind"] == "lookup" and o["ok"]]
                log(f"ingest_docs_per_s={sum(o['docs'] for o in b) / sum(o['secs'] for o in b):.3f} 1/s "
                    f"batch_p50_s={statistics.median(o['secs'] for o in b):.4f} s "
                    f"lookup_p50_s={statistics.median(lk):.4f} s "
                    f"({len(b)} batches, {len(lk)} lookups)")
            units = E2E_UNITS
        else:
            names = [n for w in dict.fromkeys(CONTRACT_WORKLOADS + (a.workload,))
                     for n in res["op_names"][w]]
            metrics, units = per_layer(res, a.workload, names, cores, tmp_use)
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json"), "w") as f:
                json.dump(res.get("spans", []), f)
        for k, v in metrics.items():
            log(f"  {k} = {v:.6g} {units[k]}")
        print(json.dumps({
            "correct": correct, "attempted": len(every), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
        if not correct:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
