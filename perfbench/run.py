#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It compiles the engine from
`src/main/scala` and the harness from `perfbench/harness` into
`.bench_build/` (reused while the sources are unchanged), generates the
workload's inputs from the seed, runs the harness JVM, checks the
outputs and prints one JSON object as the last line of stdout. `--trace 0`
reports the end-to-end metrics; `--trace 1` the per-layer metrics of a
traced run. Lines starting with `#` before it are for people: host block,
phase timings, failed checks. Everything it writes stays under
`.bench_build/`; the full record of a run is in `.bench_build/reports/`.
See perfbench/NOTES.md for what each workload and metric means.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import osmgen      # noqa: E402
import tablegen    # noqa: E402

BUILD = ".bench_build"
DEADLINE_S = 170          # a run must end within 180 s once built
BUILD_DEADLINE_S = 800    # the first run in a checkout also compiles
SETUP_REPS = 3
ETL_GRID = 70             # streets grid of the etl extract (rows = cols)
CITY_GRID = 180           # above the 100k-edge local gate
DISTRICT_GRID = 60        # below it
SOURCE_SPACING = 4        # accessibility sources every 4th row and column
QUERIES = ("q_d_dup_passages", "q_d_substring_dedup", "q_d_embedding_pairs",
           "q_a10_median", "q_a10b_median_native", "q_a11_percentile",
           "q_t_pipeline", "q_geo_pip_join", "q_d_minhash_pairs",
           "q_x5_weighted_median")
# JVM settings of the engine's own launcher (build.sbt javaOptions), with
# a smaller pinned heap so several runs fit on one host
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseTransparentHugePages",
             "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=1g",
             "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = (("wall_s", "s"), ("setup_s", "s"), ("cpu_s", "s"),
              ("alloc_mb", "MB"))
ENTITIES = ("nodes", "ways", "way_nodes", "relations", "relation_members")
OSM_STAGES = ("filter", "impute", "split", "merge", "export", "complete",
              "explore", "pois")
SPARK_COUNTERS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                  ("executor_cpu_s", "s"), ("executor_run_s", "s"),
                  ("gc_s", "s"), ("shuffle_read_bytes", "B"),
                  ("shuffle_write_bytes", "B"), ("shuffle_fetch_wait_s", "s"),
                  ("spill_bytes", "B"))
PHASES = ("pbf_ingest_s", "graph_e2e_s", "etl_s", "graph_dist_s",
          "graph_local_s", "query_mix_s")


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = [("sources.%s_s" % e, "s") for e in ENTITIES]
    out += [("sources.blobs_scanned", "count"), ("sources.records", "count"),
            ("sources.blob_yield", "ratio"), ("sources.pbf_bytes", "B"),
            ("sources.parquet_bytes_out", "B"), ("sources.cpu_s", "s")]
    out += [("osm.%s_s" % s, "s") for s in OSM_STAGES]
    out += [("osm.shuffle_bytes", "B"), ("osm.edges_out", "count"),
            ("osm.null_length_edges", "count")]
    for alg in ("cc", "pagerank", "sssp"):
        for path in ("dist", "local"):
            out += [("graphcheck.%s_%s_s" % (alg, path), "s"),
                    ("graphcheck.%s_%s_rounds" % (alg, path), "count"),
                    ("graphcheck.%s_%s_jobs" % (alg, path), "count")]
    out += [("entry.%s_s" % q, "s") for q in QUERIES]
    out += [("spark.%s" % n, u) for n, u in SPARK_COUNTERS]
    out += [("spark.driver_gap_s", "s"), ("spark.persisted_rdds_after", "count")]
    out += [("phase.%s" % p, "s") for p in PHASES]
    out += [("jvm.heap_peak_mb", "MB"), ("jvm.heap_retained_mb", "MB")]
    out += [("trace.overhead_pct", "%")]
    return out


def note(msg):
    print("# " + msg, flush=True)


# ------------------------------------------------------------- build --

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler "
                         "found (set SPARK_HOME)")
    return jars


def scalac(jars, classpath, out, sources):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("perfbench: compilation failed")


def build(root):
    """Compile the engine and the harness unless this exact source set
    was compiled before; returns the run classpath."""
    src = os.path.join(root, "src", "main", "scala")
    prog = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not prog:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(os.path.basename(glob.glob(
        os.path.join(jars, "scala-compiler-*.jar"))[0]).encode())
    out = os.path.join(root, BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "ok")):
        for old in glob.glob(os.path.join(root, BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.perf_counter()
        jar_cp = os.path.join(jars, "*")
        scalac(jars, jar_cp, os.path.join(out, "engine"), prog)
        res = os.path.join(root, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, os.path.join(out, "engine"), dirs_exist_ok=True)
        scalac(jars, os.path.join(out, "engine") + os.pathsep + jar_cp,
               os.path.join(out, "harness"), harness)
        open(os.path.join(out, "ok"), "w").close()
        note("built engine and harness in %.1f s" % (time.perf_counter() - t0))
    return os.pathsep.join([os.path.join(out, "harness"),
                            os.path.join(out, "engine"),
                            os.path.join(jars, "*")])


# ------------------------------------------------------------ inputs --

def write_edges(path, edges):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "start_node": pa.array([e[0] for e in edges], pa.int64()),
        "end_node": pa.array([e[1] for e in edges], pa.int64()),
        "length": pa.array([e[2] for e in edges], pa.float64()),
        "w": pa.array([int(round(e[2] * 100)) for e in edges], pa.int64()),
    }), path)


def generate(workload, seed, inp):
    """Writes the workload's inputs under `inp`; returns the harness
    arguments and a function that computes what the checks expect (run
    once, outside the timed set-up)."""
    if workload == "etl":
        m = osmgen.build(seed, ETL_GRID, ETL_GRID)
        pbf = os.path.join(inp, "extract.osm.pbf")
        osmgen.write_pbf(m, pbf)

        def expect():
            exp = osmgen.expectations(m)
            exp["pbf_bytes"] = os.path.getsize(pbf)
            return exp
        return {"pbf": pbf}, expect
    if workload == "graph_analytics":
        args, nets = {}, {}
        for name, grid, s in (("city", CITY_GRID, seed),
                              ("district", DISTRICT_GRID, seed + 1)):
            nets[name] = osmgen.edge_list(osmgen.build(s, grid, grid), grid,
                                          SOURCE_SPACING)
            args[name] = os.path.join(inp, name + ".parquet")
            args[name + "_sources"] = os.path.join(inp, name + "_sources.txt")
            write_edges(args[name], nets[name][0])
            with open(args[name + "_sources"], "w") as f:
                f.write("\n".join(map(str, nets[name][1])) + "\n")
        return args, lambda: {k: osmgen.graph_expectations(*v)
                              for k, v in nets.items()}
    if workload == "query_mix":
        rows = tablegen.write(seed, inp)
        return ({"data": inp, "queries": ",".join(QUERIES)},
                lambda: {"rows": rows})
    raise SystemExit("perfbench: unknown workload %r" % workload)


# ------------------------------------------------------------ checks --

def read_etl_outputs(obs):
    """What the checks need from the last pass's parquet outputs."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def table(name, columns=None):
        return pq.read_table(os.path.join(obs["output_dir"], name),
                             columns=columns)

    def rows(name):
        return pq.ParquetDataset(os.path.join(obs["output_dir"], name)) \
            .read(columns=[]).num_rows
    hist = table("explore_highway").to_pydict()
    edges = table("edges", ["start_node", "end_node", "length"])
    obs.update(
        counts={e: rows(e) for e in ENTITIES},
        highway_hist=dict(zip(hist["highway"], hist["count"])),
        poi_rows=rows("pois_nodes") + rows("pois_ways"),
        edges=edges.num_rows,
        edge_digest=osmgen.pair_digest(zip(edges["start_node"].to_pylist(),
                                           edges["end_node"].to_pylist())),
        null_length_edges=pc.sum(pc.is_null(edges["length"])).as_py() or 0,
        complete_rows=rows("complete"))


def check_etl(exp, obs, add):
    read_etl_outputs(obs)
    for e in ENTITIES:
        add("rows." + e, obs["counts"][e], exp["counts"][e])
    add("highway_histogram", obs["highway_hist"], exp["highway_hist"])
    add("poi_rows", obs["poi_rows"], exp["poi_rows"])
    add("edges", obs["edges"], exp["edges"])
    add("edge_multiset", obs["edge_digest"], exp["edge_digest"])
    add("complete_network_rows", obs["complete_rows"],
        sum(exp["highway_hist"].values()))
    # only a traced pass materializes the merged network
    if obs.get("split_segments") is not None:
        add("split_segments", obs["split_segments"], exp["split_segments"])


def check_graph(exp, obs, passes, add):
    gate = obs["gate"]
    for net, path in (("city", "dist"), ("district", "local")):
        o, e = obs[path], exp[net]
        add(net + ".edges", o["edges"], e["edges"])
        add(net + ".gate_side", o["edges"] > gate, path == "dist")
        add(net + ".components", o["components"], e["components"])
        add(net + ".cc_nodes", o["graph_nodes"], e["graph_nodes"])
        add(net + ".pagerank_rows", o["pagerank_rows"], e["graph_nodes"])
        add(net + ".reached", o["reached"], e["reached"])
    # a loop that stops at maxIter returns partial answers without saying
    # so; every pass's rounds are checked, and the path taken must match
    # the side of the gate
    for i, p in enumerate(passes):
        f = p["facts"]
        for path in ("dist", "local"):
            for alg, cap in (("sssp", obs["max_iter_sssp"]),
                             ("cc", obs["max_iter_cc"])):
                r = f.get("%s_%s_rounds" % (alg, path))
                if r is None:
                    continue
                ok = (0 < r < cap) if path == "dist" else r == 0
                add("pass%d.%s_%s_rounds" % (i, alg, path), ok, True)


def strict_hash(con, sql):
    """md5 over column names, types and the sorted rendered rows."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    rows = con.sql("SELECT %s FROM (%s)" % (
        ", ".join('"%s"' % c for c in cols), sql)).fetchall()
    h = hashlib.md5(repr([(c, types[c]) for c in cols]).encode())
    for r in sorted("|".join(repr(v) for v in row) for row in rows):
        h.update(r.encode() + b"\n")
    return len(rows), h.hexdigest()


def check_query_mix(exp, obs, add, inp):
    import duckdb
    con = duckdb.connect()
    for t in exp["rows"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(inp, t + ".parquet")))
    for q in QUERIES:
        sql = obs["oracle_sql"].get(q)
        files = os.path.join(obs["results_dir"], q, "*.parquet")
        if not sql or not glob.glob(files):
            add(q, "missing", "present")
            continue
        try:
            spark_side = "SELECT * FROM read_parquet('%s')" % files
            # the oracle goes through parquet too, so both sides are hashed
            # with the same physical types
            opq = os.path.join(obs["results_dir"], q + ".oracle.parquet")
            con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, opq))
            add(q, strict_hash(con, spark_side),
                strict_hash(con, "SELECT * FROM read_parquet('%s')" % opq))
        except Exception as e:          # an oracle error fails the check
            add(q, "error: %s" % str(e)[:200], "result")


# ----------------------------------------------------------- metrics --

def median(xs):
    return statistics.median(xs) if xs else 0.0


def phase_times(result, passes):
    out = {}
    for ph in result["phases"]:
        vals = [sum(o["s"] for o in p["ops"]
                    if any(o["op"].startswith(x) for x in ph["prefixes"]))
                for p in passes]
        out[ph["name"]] = median(vals)
    return out


def per_layer(result, exp, workload):
    """Every per-layer metric; layers this workload does not reach are 0."""
    untraced = [p for p in result["passes"] if not p["traced"]]
    traced = [p for p in result["passes"] if p["traced"]]
    m = {n: 0.0 for n, _ in per_layer_names()}

    def op_s(name):
        return median([sum(o["s"] for o in p["ops"] if o["op"] == name)
                       for p in traced])

    def span_sum(p, prefix, key):
        return sum(c[key] for s, c in p["spans"].items() if s.startswith(prefix))

    def span_med(prefix, key):
        return median([span_sum(p, prefix, key) for p in traced])

    if workload == "etl":
        for e in ENTITIES:
            m["sources.%s_s" % e] = op_s("sources." + e)
        tasks = span_med("sources.", "tasks")
        m["sources.blobs_scanned"] = tasks
        m["sources.records"] = span_med("sources.", "records_out")
        m["sources.blob_yield"] = (span_med("sources.", "tasks_with_rows") / tasks
                                   if tasks else 0.0)
        m["sources.pbf_bytes"] = exp["pbf_bytes"]
        m["sources.parquet_bytes_out"] = span_med("sources.", "bytes_out")
        m["sources.cpu_s"] = span_med("sources.", "executor_cpu_s")
        for s in OSM_STAGES:
            m["osm.%s_s" % s] = op_s("osm." + s)
        m["osm.shuffle_bytes"] = span_med("osm.", "shuffle_write_bytes")
        obs = result["observed"]
        m["osm.edges_out"] = obs.get("edges", 0)
        m["osm.null_length_edges"] = obs.get("null_length_edges", 0)
    elif workload == "graph_analytics":
        for alg in ("cc", "pagerank", "sssp"):
            for path in ("dist", "local"):
                k = "graphcheck.%s_%s" % (alg, path)
                m[k + "_s"] = op_s(k)
                m[k + "_rounds"] = median([p["facts"].get(
                    "%s_%s_rounds" % (alg, path), 0) for p in traced])
                m[k + "_jobs"] = span_med(k, "jobs")
    else:
        for q in QUERIES:
            m["entry.%s_s" % q] = op_s("entry." + q)
    for n, _ in SPARK_COUNTERS:
        m["spark." + n] = span_med("", n)
    m["spark.driver_gap_s"] = median([p["driver_gap_s"] for p in traced])
    m["spark.persisted_rdds_after"] = median(
        [p["persisted_rdds_after"] for p in traced])
    # the first untraced pass is cold, like the pass of an untraced run;
    # the overhead compares the traced pass with the untraced one after it
    cold = untraced[:1]
    for k, v in phase_times(result, cold).items():
        m["phase." + k] = v
    m["jvm.heap_peak_mb"] = median([p["heap_peak_mb"] for p in cold])
    m["jvm.heap_retained_mb"] = median([p["heap_retained_mb"] for p in cold])
    base = untraced[-1]["wall_s"]
    m["trace.overhead_pct"] = 100.0 * (median([p["wall_s"] for p in traced])
                                       / base - 1.0)
    units = dict(per_layer_names())
    return {n: {"value": v, "unit": units[n]} for n, v in m.items()}


# -------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl", "graph_analytics", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.perf_counter()
    root = os.getcwd()

    classpath = build(root)
    work = os.path.abspath(os.path.join(root, BUILD, "work", a.workload))
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    os.makedirs(os.path.join(work, "tmp"))
    load_before = os.getloadavg()
    t_run = time.perf_counter()

    # set-up is repeated and its median reported; the last inputs stay
    gen_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        hargs, expect = generate(a.workload, a.seed, inp)
        gen_s.append(time.perf_counter() - t0)
    exp = expect()

    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    hargs.update(workload=a.workload, work=work, cores=cores,
                 seconds=a.seconds, trace=a.trace, out=out)
    cmd = (["java"] + JVM_FLAGS
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness"]
           + ["%s=%s" % kv for kv in sorted(hargs.items())])
    launch_ms = time.time() * 1000
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.perf_counter() - t_run)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: the harness ran out of time")
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: the harness failed (exit %d)" % rc)
    with open(out) as f:
        result = json.load(f)
    load_after = os.getloadavg()
    jvm_s = time.perf_counter() - t_run - sum(gen_s)
    t_check = time.perf_counter()

    checks = []

    def add(name, got, want):
        checks.append({"check": name, "ok": got == want,
                       "got": got, "want": want})

    obs = result["observed"]
    passes = result["passes"]
    if "observe_error" in obs:
        add("observe", obs["observe_error"], "no error")
    elif a.workload == "etl":
        check_etl(exp, obs, add)
    elif a.workload == "graph_analytics":
        check_graph(exp, obs, passes, add)
    else:
        check_query_mix(exp, obs, add, inp)

    check_s = time.perf_counter() - t_check
    setup = result["setup"]
    attempted = (setup["warmup_ops"] + sum(p["attempted"] for p in passes)
                 + len(checks))
    failed = (setup["warmup_failed"] + sum(p["failed"] for p in passes)
              + sum(not c["ok"] for c in checks))
    untraced = [p for p in passes if not p["traced"]]
    # JVM and session start, workload set-up and warm-up, then generation
    jvm_setup_s = (setup["warmup_end_ms"] - launch_ms) / 1000
    setup_s = median(gen_s) + jvm_setup_s
    if a.trace:
        metrics = per_layer(result, exp, a.workload)
    else:
        metrics = {
            "wall_s": median([p["wall_s"] for p in untraced]),
            "setup_s": setup_s,
            "cpu_s": median([p["cpu_s"] for p in untraced]),
            "alloc_mb": median([p["alloc_mb"] for p in untraced]),
        }
        metrics = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}

    host = dict(result["host"], nproc=os.cpu_count(), cores_used=cores,
                loadavg_before=list(load_before), loadavg_after=list(load_after))
    warm = {"warmup_s": setup["warmup_s"], "ops": setup["warmup_ops"],
            "failed": setup["warmup_failed"], "errors": setup["warmup_errors"],
            "warmup_vs_timed_pass": (
                setup["warmup_s"] / median([p["wall_s"] for p in untraced])
                if untraced else None)}
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host, "warmup": warm,
              "setup": {"generate_s": gen_s, "jvm_session_s":
                        (setup["session_ready_ms"] - launch_ms) / 1000,
                        "jvm_setup_s": jvm_setup_s, "setup_s": setup_s},
              "phases": phase_times(result, untraced), "checks": checks,
              "expected": exp, "harness": result,
              "elapsed_s": time.perf_counter() - t_start,
              "jvm_s": jvm_s, "check_s": check_s}
    rep_dir = os.path.join(root, BUILD, "reports")
    os.makedirs(rep_dir, exist_ok=True)
    rep = os.path.join(rep_dir, "%s-seed%d-trace%d.json"
                       % (a.workload, a.seed, a.trace))
    with open(rep, "w") as f:
        json.dump(report, f, indent=1, default=str)

    note("host " + json.dumps(host))
    note("warmup " + json.dumps(warm))
    for k, v in report["phases"].items():
        note("phase %s %.4f s" % (k, v))
    for n, v in metrics.items():
        note("metric %s %.6g %s" % (n, v["value"], v["unit"]))
    if a.workload == "etl":
        note("known defect: osm.null_length_edges %s of %s edges "
             "(ways the split leaves whole keep the NULL PBF linestring)"
             % (obs.get("null_length_edges"), obs.get("edges")))
    for c in checks:
        if not c["ok"]:
            note("CHECK FAILED %s: got %s want %s" % (c["check"], c["got"], c["want"]))
    for p in passes:
        for e in p["errors"]:
            note("OP FAILED " + e)
    note("%d checks, %d passes, report %s" % (len(checks), len(passes),
                                              os.path.relpath(rep, root)))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
