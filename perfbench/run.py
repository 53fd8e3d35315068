#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload ord_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout that holds graft's sources. The command
builds graft and the driver (perfbench/build.sh) into `.bench_build/`,
makes the seeded inputs, launches one driver JVM on the compiled
classes and the Spark jars, checks every dumped output, and prints the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`)
as the last line of standard output. See perfbench/DESIGN.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's own directory

CORES = min(4, os.cpu_count() or 1)

# input sizes per workload: (documents, embeddings, events, ORD datasets)
SIZES = {
    "ord_etl": (0, 0, 0, 1000),
    "corpus_rw": (2000, 800, 40000, 0),
}
READS_PER_WRITE = 5

LAYERS = ["ord", "ops.cluster", "ops.curation", "ops.retrieval", "sources.ivf",
          "sources.lex", "streaming.lex", "streaming.vec", "streaming.doc"]
LAYER_METRICS = [("fn_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("job_gap_s", "s"),
                 ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
                 ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"),
                 ("spill_bytes", "bytes"), ("result_bytes", "bytes")]
STREAM_METRICS = [("triggers", "count"), ("busy_s", "s"), ("rows_in", "count")]
STREAM_LAYERS = ["streaming.lex", "streaming.vec", "streaming.doc"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


# ------------------------------------------------------------------ build

SPARK_JARS = None


def spark_jars(root):
    """The Spark jars graft's own build compiles against (build.sbt's
    unmanagedBase), else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build(root):
    """Compile graft + driver once per source tree; returns the classes dir."""
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sh"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    classes = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(classes):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t = time.time()
        subprocess.run(["bash", "perfbench/build.sh", tmp], cwd=root, check=True,
                       stdout=sys.stderr, timeout=800, env=dict(os.environ, SPARK_JARS_DIR=SPARK_JARS))
        os.replace(tmp, classes)
        log(f"built {os.path.basename(classes)} in {time.time() - t:.1f}s")
    return classes


def java_cmd(classes, tmp, heap="2g"):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap (-Xms = -Xmx) keeps live_heap_mb and the latencies steadier
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Driver"]


_child = None
_deadline = None  # set once the build is done: a run ends within 180 s


def _stop(signum, _frame):
    """Stop the driver JVM before exiting, so no process outlives the run."""
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    sys.exit(128 + signum)


def run_jvm(cmd, cwd, env):
    """Run a driver JVM; kill it (and wait) if it would overrun the run."""
    global _child
    log_path = os.path.join(cwd, "driver.log")
    with open(log_path, "w") as logf:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = _child.wait(timeout=max(1.0, _deadline - time.time()))
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
            rc = "killed at the run's deadline"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"driver JVM exited with {rc}:\n{tail}")


# ----------------------------------------------------------------- inputs

def inputs(root, classes, workload, seed):
    """Seeded inputs for a workload, cached per (sizes, seed)."""
    import gen
    docs, vecs, evts, ords = SIZES[workload]
    tag = f"d{docs}-v{vecs}-e{evts}-o{ords}"
    data = os.path.join(root, ".bench_build", "data", tag, f"seed-{seed}")
    if not os.path.isdir(data):
        t = time.time()
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if docs:
            gen.write_tables(os.path.join(tmp, "tables"), seed, docs, vecs, evts)
        if ords:
            work = os.path.join(tmp, "work")
            os.makedirs(work)
            run_jvm(java_cmd(classes, os.path.join(work, "tmp")) + [
                "mode=ord", f"dir={tmp}", f"seed={seed}", f"datasets={ords}", "cores=2",
                f"local={work}", f"warehouse={work}/wh"], work, dict(os.environ))
            shutil.rmtree(work)
        os.replace(tmp, data)
        log(f"inputs {tag} seed {seed} made in {time.time() - t:.1f}s")
    return data


# ----------------------------------------------------------------- checks

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={CORES}")
    return con


def compare(spark_df, duck_df):
    """The tools/compare.py rule: same columns, rows and values in order."""
    import numpy as np
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows spark={len(spark_df)} duck={len(duck_df)}"

    def norm(x):
        if isinstance(x, np.ndarray):
            return [norm(y) for y in x.tolist()]
        if isinstance(x, list):
            return [norm(y) for y in x]
        if isinstance(x, dict):
            return {k: norm(v) for k, v in x.items()}
        if isinstance(x, float) and x != x:
            return "__nan__"
        return x
    for c in sorted(spark_df.columns):
        if str(spark_df[c].dtype) != str(duck_df[c].dtype):
            return f"dtype[{c}] spark={spark_df[c].dtype} duck={duck_df[c].dtype}"
        sv = [norm(x) for x in spark_df[c].tolist()]
        dv = [norm(x) for x in duck_df[c].tolist()]
        bad = [i for i, (a, b) in enumerate(zip(sv, dv)) if a != b and not (a != a and b != b)]
        if bad:
            i = bad[0]
            return f"value[{c}] {len(bad)} diffs, first@{i}: spark={sv[i]!r} duck={dv[i]!r}"
    return None


def check_oracle(con, res, data, run_dir):
    """Dumped outputs vs DuckDB running each key's declared oracle SQL.

    Oracle results are cached per seed under `data/expected`, keyed by
    the SQL text with this run's directory masked out."""
    import pandas as pd
    tables = os.path.join(data, "tables")
    for t in ("documents", "embeddings", "events"):
        p = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cache = os.path.join(data, "expected")
    os.makedirs(cache, exist_ok=True)
    bad = {}
    for name, path in res["dumped"].items():
        sql = res["oracle_sql"].get(name)
        if sql is None:
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
            h = hashlib.sha256(sql.replace(run_dir, "<run>").encode()).hexdigest()[:20]
            hit = os.path.join(cache, f"{name}-{h}.pkl")
            if os.path.exists(hit):
                want = pd.read_pickle(hit)
            else:
                want = con.sql(sql).df()
                want.to_pickle(hit + ".tmp")
                os.replace(hit + ".tmp", hit)
            problem = compare(got, want)
        except Exception as e:  # a missing dump or a failing oracle is a failed check
            problem = f"{type(e).__name__}: {str(e).splitlines()[0]}"
        if problem:
            bad[name] = problem
    return bad


def check_ord(con, res, data):
    """ORD outputs vs the generator's truth."""
    truth = json.load(open(os.path.join(data, "truth.json")))
    dsets = truth["datasets"]
    p = res["params"]
    bad = {}

    def rows(name, cols="*"):
        return con.sql(f"SELECT {cols} FROM read_parquet('{res['dumped'][name]}/*.parquet')"
                       ).fetchall()

    def check(name, got, want):
        """`got` reads the output; a missing dump fails the check too."""
        try:
            g = got()
        except Exception as e:
            g = f"{type(e).__name__}: {str(e).splitlines()[0]}"
        if g != want:
            bad[name] = f"got {str(g)[:200]} want {str(want)[:200]}"

    def histogram(name, key, cols="*"):
        # amount units may be null, so rows sort by their text
        check(name, lambda: sorted(rows(name, cols), key=str),
              sorted(map(tuple, truth[key]), key=str))
    check("ord_envelope_check", lambda: [r[0] for r in rows("ord_envelope_check", "env_match")],
          [True] * len(dsets))
    histogram("ord_roles_histogram", "roles")
    histogram("ord_id_types", "id_types")
    histogram("ord_amount_stats", "amounts", "file, amount_kind, amount_units, n")

    # OrdApi modes: (dataset_id, 1-based reaction position), numbered in
    # catalog order within the corpus file
    order = ["ord_formatted_data.json", "ord_formatted_data_one.json",
             "ord_formatted_data_two.json", "ord_formatted_data_three.json",
             "ord_formatted_data_single.json"]

    def catalog(corpus=None):
        ds = sorted((d for d in dsets if corpus is None or d["file"] == corpus),
                    key=lambda d: (order.index(d["file"]), d["ds_pos"]))
        return [(i + 1, d) for i, d in enumerate(ds)]

    def api(name, want):
        check(name, lambda: rows(name, "dataset_id, rx_pos1"), want)
    api("api_all", [(d["dataset_id"], j + 1) for _, d in catalog() for j in range(d["n_rx"])])
    q = p["api_specific"]
    api("api_specific", [(d["dataset_id"], j + 1) for _, d in catalog(q["corpus"])
                         if d["dataset_id"] in q["ids"] for j in range(d["n_rx"])])
    q = p["api_uniform"]
    api("api_uniform", [(d["dataset_id"], j + 1) for i, d in catalog(q["corpus"])
                        if q["ds"][0] <= i <= q["ds"][1]
                        for j in range(d["n_rx"]) if q["rx"][0] <= j + 1 <= q["rx"][1]])
    q = p["api_custom"]
    api("api_custom", [(d["dataset_id"], j + 1) for _, d in catalog(q["corpus"])
                       if d["dataset_id"] in q["ranges"] for j in range(d["n_rx"])
                       if q["ranges"][d["dataset_id"]][0] <= j + 1
                       <= q["ranges"][d["dataset_id"]][1]])
    q = p["api_single"]
    api("api_single", [(q["id"], q["rx"])])
    # saveFormatted: the file parses back to exactly the selected datasets
    q = p["api_save"]
    by_id = {d["dataset_id"]: d for d in dsets if d["file"] == q["corpus"]}
    check("api_save", lambda: {k: [r["reaction_id"] for r in v["reactions"]] for k, v in
                               json.load(open(os.path.join(res["_out"], "save.json"))).items()},
          {i: by_id[i]["reaction_ids"] for i in q["ids"]})
    return bad


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(res, items):
    """The gated end-to-end metrics of an untraced run."""
    passes, by_op = {}, {}
    for o in res["ops"]:
        passes.setdefault(o["pass"], []).append(o["wall_s"])
        by_op.setdefault(o["op"], []).append(o["wall_s"])
    return {
        "setup_s": (res["setup"]["setup_s"], "s"),
        # every call type counts once, however often the mix issues it; a
        # median over a mix of fast and slow calls jumps between the two
        "op_gmean_s": (statistics.geometric_mean(statistics.median(v) for v in by_op.values()),
                       "s"),
        "items_per_s": (items / statistics.median(sum(v) for v in passes.values()), "1/s"),
        "live_heap_mb": (statistics.median(res["heap_samples_mb"]), "MB"),
    }


def detail(res, failed, load_start):
    """Figures printed beside the metrics but not gated: too few samples
    per run for a steady tail, or zero when all is well."""
    ops = res["ops"]
    d = {"ops": len(ops), "passes": len({o["pass"] for o in ops}),
         "ops_failed_ratio": failed / len(ops),
         "op_p50_s": quantile([o["wall_s"] for o in ops], 0.5),
         "op_p90_s": quantile([o["wall_s"] for o in ops], 0.9)}
    for kind in ("read", "write"):
        walls = [o["wall_s"] for o in ops if o["kind"] == kind]
        if walls:
            d[f"{kind}_p50_s"] = quantile(walls, 0.5)
            d[f"{kind}_p90_s"] = quantile(walls, 0.9)
    d.update(loadavg_start=load_start, loadavg_end=loadavg(),
             jvm_loadavg_start=res["load_start"], jvm_loadavg_end=res["load_end"])
    return d


def per_layer(res, failed_ops):
    ops = res["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    plain = [o for o in ops if not o["traced"] and o["ok"]]
    m = {}
    for layer in LAYERS:
        mine = [o for o in traced if o["layer"] == layer]
        names = LAYER_METRICS + (STREAM_METRICS if layer in STREAM_LAYERS else [])
        for name, unit in names:
            v = statistics.fmean(o[name] for o in mine) if mine else 0.0
            m[f"{layer}.{name}"] = (v, unit)
        m[f"{layer}.failed"] = (sum(1 for o in ops if o["layer"] == layer and
                                    (not o["ok"] or o["op"] in failed_ops)), "count")
    setup = res["setup"]
    m["session.start_s"] = (setup["session.start_s"], "s")
    for k in ("sources.ivf.ensure_s", "sources.lex.ensure_s"):
        m[k] = (setup.get(k, 0.0), "s")
    m["jvm.gc_s"] = (res["gc_s"], "s")
    # tracing overhead: per op name, traced median over untraced median
    ratios = []
    for name in {o["op"] for o in traced}:
        a = [o["wall_s"] for o in traced if o["op"] == name]
        b = [o["wall_s"] for o in plain if o["op"] == name]
        if a and b:
            ratios.append(statistics.median(a) / statistics.median(b))
    m["trace.overhead_ratio"] = (statistics.geometric_mean(ratios) if ratios else 1.0, "ratio")
    return m


def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        covered, hi = 0.0, s["start_ms"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, hi), min(b, s["end_ms"])
            if b > a:
                covered += b - a
                hi = b
        s["self_ms"] = max(0.0, s["end_ms"] - s["start_ms"] - covered)
    return spans


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("no graft sources under src/main/scala: run from the root of a graft checkout")
        return 2
    global SPARK_JARS
    SPARK_JARS = spark_jars(root)
    if not os.path.isdir(SPARK_JARS):
        log(f"no Spark jars at {SPARK_JARS}")
        return 2

    global _deadline
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    load_start = loadavg()
    classes = build(root)
    _deadline = time.time() + 160
    data = inputs(root, classes, args.workload, args.seed)
    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    fix, ckpt, out = (os.path.join(run_dir, d) for d in ("fixtures", "ckpt", "out"))
    for d in (fix, ckpt, out):
        os.makedirs(d)
    for f in ("ord_nested_v2.parquet", "ord_raw.parquet"):
        if os.path.isdir(os.path.join(data, f)):
            shutil.copytree(os.path.join(data, f), os.path.join(fix, f))
    env = dict(os.environ, GRAFT_FIXTURE_DIR=fix, GRAFT_CHECKPOINT_DIR=ckpt)
    tables = os.path.join(data, "tables")
    try:
        cmd = java_cmd(classes, os.path.join(run_dir, "tmp")) + [
            "mode=run", f"workload={args.workload}", f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}",
            f"data={tables if os.path.isdir(tables) else data}", f"out={out}", f"ckpt={ckpt}",
            f"local={run_dir}/local", f"warehouse={run_dir}/warehouse", f"cores={CORES}",
            f"reads_per_write={READS_PER_WRITE}",
            f"ord_datasets={SIZES[args.workload][3]}",
            f"launch_ms={time.time() * 1000:.3f}"]
        t = time.time()
        run_jvm(cmd, run_dir, env)
        log(f"driver JVM took {time.time() - t:.1f}s")
        res = json.load(open(os.path.join(out, "results.json")))
        res["_out"] = out
        con = duck()
        t = time.time()
        failed_checks = check_oracle(con, res, data, run_dir)
        if args.workload == "ord_etl":
            failed_checks.update(check_ord(con, res, data))
        log(f"checks took {time.time() - t:.1f}s")
        spans = None
        if args.trace:
            spans = self_times(json.load(open(os.path.join(out, "spans.json"))))
    finally:
        keep = os.path.join(root, ".bench_build", "results")
        os.makedirs(keep, exist_ok=True)
        for f in ("results.json", "driver.log"):
            src = os.path.join(out if f.endswith(".json") else run_dir, f)
            if os.path.exists(src):
                shutil.copy(src, os.path.join(
                    keep, f"{args.workload}-s{args.seed}-t{args.trace}.{f}"))
        shutil.rmtree(run_dir, ignore_errors=True)
    if spans is not None:
        with open(os.path.join(root, ".bench_build", "results",
                               f"{args.workload}-s{args.seed}.spans.json"), "w") as f:
            json.dump(spans, f)

    ops = res["ops"]
    errors = {o["op"]: o["error"] for o in ops if not o["ok"]}
    failed = sum(1 for o in ops if not o["ok"] or o["op"] in failed_checks)
    for name, why in sorted({**errors, **failed_checks}.items()):
        print(f"[perfbench] FAILED {name}: {why}")
    # items per pass: ord_etl processes every ORD reaction; a corpus_rw
    # cycle completes each of its calls
    if args.workload == "ord_etl":
        items = sum(d["n_rx"] for d in json.load(
            open(os.path.join(data, "truth.json")))["datasets"])
    else:
        items = len(ops) / len({o["pass"] for o in ops})
    metrics = per_layer(res, failed_checks) if args.trace else end_to_end(res, items)
    print(f"[perfbench] {args.workload} seed={args.seed} "
          + json.dumps({k: round(v, 4) for k, v in detail(res, failed, load_start).items()}))
    print(json.dumps({
        "correct": failed == 0 and not failed_checks,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
