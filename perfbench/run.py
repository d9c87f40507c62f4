#!/usr/bin/env python3
"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <corpus_dedup|hub_ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
this harness from source with sbt (perfbench/build.sbt depends on the
repository's own build); later runs reuse the build while the sources
are unchanged. Everything a run writes stays under .perfbench/ in the
checkout.

A run: generate the seeded inputs, start one benchmark JVM
(local[nproc], pinned heap), compute the expected outputs while the JVM
warms up, time a closed loop of operations for at least --seconds, check
every output, and print the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the JVM records spans and
attaches the passive collectors, and the metrics are the per-layer ones.
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

import duckdb

import gen_fleet
import gen_tables
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".perfbench")
# committed and touched up front (-Xms = -Xmx, AlwaysPreTouch), so peak RSS
# does not depend on how much of the heap GC happened to use
HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
OPERATOR_GROUPS = {
    "operators.cc": ("qd06_dedup_clusters",),
    "operators.lsh": ("qd03_minhash_neardup",),
    "operators.decontam": ("qc11_contamination_report",),
    "operators.ann": ("qs24_ivfpq_serve",),
}


def log(msg):
    print(msg, flush=True)


# ---------------------------------------------------------------- build

def _sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile (if the sources changed) and return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: no build.sbt at the checkout root; nothing to build")
    digest = _sources_digest()
    cache = os.path.join(OUT, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["digest"] == digest:
            return c["classpath"]
    os.makedirs(OUT, exist_ok=True)
    log("perfbench: building with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(cache, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ---------------------------------------------------------------- run

def _wait_for(path, proc, deadline):
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"benchmark JVM exited with {proc.returncode} before {path}")
        if time.monotonic() > deadline:
            raise RuntimeError(f"timed out waiting for {path}")
        time.sleep(0.005)


def run_jvm(cp, args, work, t_start, prepare_expected):
    """Start the JVM, overlap `prepare_expected` with its warm-up, release
    it into the measured loop, and return (result, setup_s, expected)."""
    java = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"]
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, LC_ALL="C.utf8", LANG="C.utf8")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(java + [*args, "--cpus", cpus], cwd=work, env=env,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            expected = prepare_expected(proc, deadline)
            _wait_for(f"{work}/ready", proc, deadline)
            setup_s = time.monotonic() - t_start
            open(f"{work}/go", "w").close()
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    with open(f"{work}/result.json") as f:
        return json.load(f), setup_s, expected


def tail(samples):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile), or None when a run has too few samples."""
    s = sorted(samples)
    if len(s) < 11:
        return None
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def corpus_checks(res, work, expected, truth):
    """Every timed op's output against its oracle: {(name, iter): why it
    is wrong}; and the planted-duplicate recall of qd01 and qd06, the
    lowest over the run's iterations."""
    errors = res["extra"]["check_errors"]
    bad = {}
    for o in res["ops"]:
        key = f"{o['name']}/{o['iter']}"
        why = o["ok"] and (errors.get(key) or
                           oracle.check(os.path.join(work, "out", key), expected[o["name"]]))
        if why:
            bad[(o["name"], o["iter"])] = why
    recall = {}
    for q, col, key in (("qd01_exact_dedup", "keeper", "exact_clusters"),
                        ("qd06_dedup_clusters", "cluster_id", "near_clusters")):
        pairs = [(c[0], m) for c in truth[key] for m in c[1:]]
        rates = []
        for o in res["ops"]:
            if o["name"] != q or not o["ok"] or (q, o["iter"]) in bad:
                continue
            path = os.path.join(work, "out", q, str(o["iter"]))
            got = dict(duckdb.connect().execute(
                f"SELECT doc_id, {col} FROM read_parquet('{path}/*.parquet')").fetchall())
            hit = sum(1 for a, b in pairs if a in got and got.get(a) == got.get(b))
            rates.append(hit / len(pairs) if pairs else 1.0)
        recall[q] = min(rates) if rates else None
    return bad, recall


def ingest_checks(res, exp):
    """Per iteration: which ops produced wrong state, and why."""
    bad = {}
    for c in res["extra"]["checks"]:
        it = c["iter"]
        wrong = {t: (c["import"].get(t), n) for t, n in exp["import"].items()
                 if c["import"].get(t) != n}
        if wrong:
            bad[("import", it)] = f"silver row counts (got, want): {wrong}"
        wrong = {t: (c["refresh"].get(t), n) for t, n in exp["refresh"].items()
                 if c["refresh"].get(t) != n}
        if wrong:
            bad[("refresh", it)] = f"refresh invariants (got, want): {wrong}"
        if [list(x) for x in c["m1"]] != exp["m1"]:
            bad[("metrics", it)] = f"M1 top-k {c['m1']} != {exp['m1']}"
    return bad


def end_to_end(res, setup_s, failed_ops, items_of):
    """(gated metrics, printed-only figures); a failed op counts as
    missing any latency limit: its latency is the whole window"""
    ops = res["ops"]
    wall = res["timed_wall_s"]
    lat = [wall if (i in failed_ops) else o["wall_s"] for i, o in enumerate(ops)]
    items, items_wall = items_of(ops, failed_ops)
    t = tail(lat)
    return {
        "setup_s": (setup_s, "s"),
        "ok_ratio": ((len(ops) - len(failed_ops)) / len(ops), "ratio"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
        "queries_per_s": ((len(ops) - len(failed_ops)) / wall, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "items_per_s": (items / items_wall if items_wall > 0 else 0.0, "1/s"),
    }, {
        "fail_ratio": f"{len(failed_ops) / len(ops):.6g}",
        "latency_tail_s": (f"{t[0]:.6g} s (p{t[1]:.0f} of n={len(lat)})" if t else
                           f"n/a: n={len(lat)} ops, no percentile has 10 samples beyond it"),
    }


def per_layer(res):
    ops = res["ops"]
    st = res["self_times"]
    extra = res["extra"]
    iters = max(o["iter"] for o in ops)

    def mean(key, names=None):
        v = [o["layers"].get(key, 0.0) for o in ops if names is None or o["name"] in names]
        return statistics.fmean(v) if v else 0.0

    def span_total(name):
        return st.get(name, {}).get("total_s", 0.0) / iters

    m = {
        "graft.session_s": (res["setup"]["graft.session_s"], "s"),
        "graft.schema_probe_s": (res["setup"].get("graft.schema_probe_s", 0.0), "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }
    for key, unit in (("queries.build_s", "s"), ("queries.build_jobs", "count"),
                      ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
                      ("plans.planning_s", "s"), ("exec.jobs", "count"),
                      ("exec.stages", "count"), ("exec.tasks", "count"),
                      ("exec.in_job_s", "s"), ("exec.gap_s", "s"), ("exec.task_run_s", "s"),
                      ("exec.task_cpu_s", "s"), ("exec.task_overhead_s", "s"),
                      ("exec.gc_s", "s"), ("exec.shuffle_read_bytes", "bytes"),
                      ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
                      ("exec.input_bytes", "bytes"), ("exec.output_bytes", "bytes"),
                      ("exec.failed_tasks", "count")):
        m[key] = (mean(key), unit)
    for k in ("minhash", "shingle", "simhash", "dot"):
        key = f"functions.{k}_rows_per_s"
        m[key] = (extra.get("probe", {}).get(key, 0.0), "1/s")
    for group, names in OPERATOR_GROUPS.items():
        m[f"{group}_s"] = (mean("op.wall_s", names), "s")
    m["operators.cc_jobs"] = (mean("exec.jobs", OPERATOR_GROUPS["operators.cc"]), "count")
    counters = extra.get("counters", {})
    n_it = counters.get("iterations", 0) or 1
    for key, unit in (("sources.clone_failed", "count"), ("sources.commits_walked", "count"),
                      ("sources.deltas_walked", "count"), ("hfc.rows_written", "count"),
                      ("hfc.bytes_written", "bytes"), ("hfc.write_amplification", "ratio"),
                      ("hfc.refresh_rewrite_ratio", "ratio")):
        m[key] = (counters.get(key, 0.0) / n_it, unit)
    for span in ("sources.clone", "sources.walk", "hfc.normalize", "hfc.merge", "hfc.swap",
                 "hfc.refresh_merge", "hfc.metrics"):
        m[f"{span}_s"] = (span_total(span), "s")
    # per-layer self time per iteration: span duration minus its children
    for layer in ("queries", "action", "sources", "hfc"):
        self_s = sum(v["self_s"] for k, v in st.items() if k.split(".")[0] == layer)
        m[f"self.{layer}_s"] = (self_s / iters, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["corpus_dedup", "hub_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-dir", default=os.path.join(OUT, "runs"),
                    help="where this run's record for compare.py goes")
    a = ap.parse_args()

    cp = classpath()
    t_start = time.monotonic()
    work = os.path.join(OUT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    args = ["--workload", a.workload, "--data", data, "--work", work, "--seconds",
            str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
            "--out", os.path.join(work, "result.json")]

    if a.workload == "corpus_dedup":
        truth = gen_tables.corpus(a.seed, data)

        def prepare(proc, deadline):
            _wait_for(os.path.join(work, "oracle_sql.json"), proc, deadline)
            return oracle.expected(data, work, ["documents", "embeddings"])

        res, setup_s, expected = run_jvm(cp, args, work, t_start, prepare)
        bad, recall = corpus_checks(res, work, expected, truth)
        failed = {i for i, o in enumerate(res["ops"])
                  if not o["ok"] or (o["name"], o["iter"]) in bad}

        def items_of(ops, failed):
            n = sum(gen_tables.N_VECS if o["name"].startswith("qs") else gen_tables.N_DOCS
                    for i, o in enumerate(ops) if i not in failed)
            return n, res["timed_wall_s"]

        notes = {"check_failures": {f"{k[0]}@{k[1]}": v for k, v in bad.items()},
                 "planted_recall": recall,
                 "corpus": {"documents": gen_tables.N_DOCS, "embeddings": gen_tables.N_VECS}}
    else:
        exp = gen_fleet.expected(gen_fleet.fleet(a.seed, data))
        res, setup_s, _ = run_jvm(cp, args, work, t_start, lambda p, d: None)
        bad = ingest_checks(res, exp)
        failed = {i for i, o in enumerate(res["ops"])
                  if not o["ok"] or (o["name"], o["iter"]) in bad}

        def items_of(ops, failed):
            imports = [(i, o) for i, o in enumerate(ops) if o["name"] == "import"]
            ok = [o for i, o in imports if i not in failed]
            return exp["repos"] * len(ok), sum(o["wall_s"] for _, o in imports)

        notes = {"check_failures": {f"{k[0]}@{k[1]}": v for k, v in bad.items()},
                 "fleet": {"repos": exp["repos"], "commits": exp["import"]["commits"]}}

    e2e, printed = end_to_end(res, setup_s, failed, items_of)
    attempted = len(res["ops"])
    notes["op_walls"] = [[o["name"], round(o["wall_s"], 4)] for o in res["ops"]]
    log(f"perfbench {a.workload} seed={a.seed} trace={a.trace} ops={attempted} "
        f"failed={len(failed)} cpus={res['cpus']} heap={HEAP}")
    for k, v in notes.items():
        log(f"  {k}: {json.dumps(v)}")
    for k, (v, unit) in e2e.items():
        log(f"  {k} = {v:.6g} {unit}")
    for k, v in printed.items():
        log(f"  {k} = {v}")
    metrics = e2e
    if a.trace:
        metrics = per_layer(res)
        for k, (v, unit) in metrics.items():
            log(f"  {k} = {v:.6g} {unit}")
        ops = res["ops"]
        wall = sum(o["wall_s"] for o in ops)
        share = lambda *keys: sum(o["layers"][k] for o in ops for k in keys) / wall
        log(f"  shares of op wall: plans {share('plans.analysis_s', 'plans.optimization_s', 'plans.planning_s'):.3f}, "
            f"gap outside jobs {share('exec.gap_s'):.3f}, in jobs {share('exec.in_job_s'):.3f}, "
            f"task run / cpus {share('exec.task_run_s') / int(res['cpus']):.3f}")
        log("  span self times (count, total s, self s):")
        for name, v in sorted(res["self_times"].items()):
            log(f"    {name:32} {v['count']:5d} {v['total_s']:10.4f} {v['self_s']:10.4f}")
        log(f"  spans: {os.path.join(work, 'spans.json')}")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "correct": not failed, "metrics": {k: v for k, (v, _) in metrics.items()},
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "op_walls": notes["op_walls"]}
    os.makedirs(a.record_dir, exist_ok=True)
    with open(os.path.join(a.record_dir, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
