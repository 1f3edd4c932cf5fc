#!/usr/bin/env python3
"""Benchmark: the paper's extract -> transform -> load, end to end, and a
query mix.

Usage:
  python3 perfbench/run.py --workload amplitude_e2e|csv_e2e|query_mix \
      --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine (the
repository's main sources plus `perfbench/src`) with sbt and caches its
classpath under `perfbench/.work/`. Each run then:

  1. generates the workload's inputs from the seed,
  2. for the ETL workloads, starts the loopback vendor API (`server.py`) in
     its own process,
  3. runs the engine (`perfbench.Engine`) in a JVM: several set-ups
     (session start plus a warm-up iteration), then timed iterations for
     `--seconds`; `setup_s` is the input generation time plus the median
     engine set-up,
  4. checks the outputs. ETL: what the API received against counts DuckDB
     computes from the inputs, digests from an independent model of the
     transform (`gen.py`), and the program's own `Pipeline.Report`. Query
     mix: every pass's results against a verification pass, whose results
     `tools/localverify.py` compares with each query's DuckDB oracle,
  5. prints every metric, the checks, and as its last line one JSON object
     {"correct", "attempted", "failed", "metrics"}.

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(plus the connector matrix and a span file under `perfbench/.work/spans/`).
"""
import argparse
import concurrent.futures
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes per workload (records; for the query mix, `events` rows).
# Chosen so one warm iteration takes a couple of seconds on 4 cores, giving
# several samples per run.
SIZES = {"amplitude_e2e": 36_000, "csv_e2e": 240_000, "query_mix": 4_000}
KINDS = ("events", "profiles", "merges")
# Untimed JIT warm-up after the set-ups: ETL, this many iterations on an
# input WARM_DIVISOR times smaller than the workload's; query mix, passes
# over its own tables.
WARMUP_ITERS = {"amplitude_e2e": 8, "csv_e2e": 8, "query_mix": 1}
WARM_DIVISOR = 40
ENGINE_TIMEOUT_S = 150


def log(msg):
    print(msg, flush=True)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine once per source state; returns its classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    want = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as s, open(cp_file) as c:
            if s.read() == want:
                return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(out, "build.log"), "w") as logf:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            text=True, timeout=840)
        logf.write(r.stdout)
    lines = [ln.strip() for ln in r.stdout.splitlines()
             if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.exit(f"engine build failed; see {os.path.join(out, 'build.log')}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


# ------------------------------------------------------------------ checks

def check_epoch(name, stats, counts, digests, report):
    """Failures for one epoch: what the API received against the oracle
    (counts from DuckDB, digests from gen.py) and against the program's
    own report of what it loaded."""
    bad = []
    for k in KINDS:
        got = stats["records"].get(k, 0)
        if got != counts[k]:
            bad.append(f"{name}: {k} received {got} != expected {counts[k]}")
        if stats["dup_ids"].get(k, 0):
            bad.append(f"{name}: {k} has {stats['dup_ids'][k]} duplicate ids")
        if str(stats["digest"].get(k, 0)) != str(digests[k]):
            bad.append(f"{name}: {k} digest differs from the oracle")
        if report is not None and report.get(k) != got:
            bad.append(f"{name}: report says {k}={report.get(k)}, "
                       f"API received {got}")
    if report is not None and report.get("failed_batches", 0):
        bad.append(f"{name}: {report['failed_batches']} failed batches")
    return bad


def check_matrix(entry, stats):
    """A connector passes when Pipeline.run completes and what it reports
    loading equals what the API received, without duplicates."""
    if not entry["ok"]:
        return entry["error"]
    for k in KINDS:
        if entry[k] != stats["records"].get(k, 0):
            return f"report {k}={entry[k]} but API received " \
                   f"{stats['records'].get(k, 0)}"
        if stats["dup_ids"].get(k, 0):
            return f"{stats['dup_ids'][k]} duplicate {k}"
    return None


# ------------------------------------------------------------------ run

class Server:
    def __init__(self, export_dir, log_path):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), export_dir],
            stdout=subprocess.PIPE, stderr=self.log, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.proc.kill()
            self.proc.wait()
            sys.exit("loopback API failed to start")
        self.port = int(line.split()[1])

    def get(self, path):
        with urllib.request.urlopen(
                f"http://127.0.0.1:{self.port}{path}", timeout=120) as r:
            return json.loads(r.read())

    def stop(self):
        if self.proc.poll() is None:
            try:
                urllib.request.urlopen(urllib.request.Request(
                    f"http://127.0.0.1:{self.port}/__shutdown",
                    method="POST"), timeout=5).read()
                self.proc.wait(timeout=10)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
        self.log.close()


def generate(workload, seed, size, out_dir, with_matrix):
    warm = os.path.join(out_dir, "warm")
    if workload == "query_mix":
        gen.generate_tables(seed, size, os.path.join(out_dir, "tables"))
        return
    if workload == "amplitude_e2e":
        gen.generate_amplitude(seed, size, out_dir)
        gen.generate_amplitude(seed + 1, size // WARM_DIVISOR, warm)
    else:
        gen.generate_csv(seed, size, out_dir)
        gen.generate_csv(seed + 1, size // WARM_DIVISOR, warm)
        os.makedirs(os.path.join(out_dir, "export"), exist_ok=True)
    if with_matrix:
        gen.generate_matrix(out_dir)


def oracle(workload, in_dir):
    """Expected per-kind record counts (DuckDB) and wire digests (gen.py)."""
    if workload == "amplitude_e2e":
        wire = gen.amplitude_wire(in_dir)
        return gen.amplitude_counts(in_dir), \
            {k: gen.digest(wire[k]) for k in KINDS}
    return gen.csv_counts(in_dir), gen.csv_digests(in_dir)


def run_engine(cp, args, run_dir, port, in_dir, out_json, spans):
    mem = os.environ.get("SPARK_DRIVER_MEM", "2g")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Engine",
            "--workload", args.workload, "--input", in_dir,
            "--port", str(port), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--setups", str(args.setups),
            "--warmup", str(WARMUP_ITERS[args.workload]), "--work", run_dir,
            "--out", out_json, "--spans", spans, "--fault", args.fault,
            "--queries", ",".join(QUERIES)]
    with open(os.path.join(run_dir, "engine.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "engine.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"engine failed ({rc})")
    with open(out_json) as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setups", type=int, default=3,
                    help="set-ups per run; setup_s is their median")
    ap.add_argument("--size", type=int, default=None,
                    help="override the workload's input size (tests)")
    ap.add_argument("--fault", default="none", choices=("none", "drop", "dup"),
                    help="faulty transport, for the checker's own tests")
    args = ap.parse_args(argv)

    if not all(os.path.isfile(os.path.join(ROOT, *f)) for f in (
            ("src", "main", "scala", "graft", "Pipeline.scala"),
            ("tools", "localverify.py"))):
        sys.exit("the program's sources are missing: run from a checkout "
                 "of the repository")
    cp = build()

    size = args.size or SIZES[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    server = None
    try:
        # Set-up: generate the inputs (once; the engine repeats its own
        # part of the set-up and reports each).
        t_start = time.perf_counter()
        in_dir = os.path.join(run_dir, "in")
        generate(args.workload, args.seed, size, in_dir, args.trace == 1)
        gen_s = time.perf_counter() - t_start

        port = 0
        if args.workload != "query_mix":
            server = Server(os.path.join(in_dir, "export"),
                            os.path.join(run_dir, "server.log"))
            port = server.port
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans = os.path.join(spans_dir,
                             f"{args.workload}-seed{args.seed}.jsonl")
        t_gen = time.perf_counter()
        res = run_engine(cp, args, run_dir, port, in_dir,
                         os.path.join(run_dir, "engine.json"),
                         spans if args.trace else "")
        t_engine = time.perf_counter()
        if server:
            cpu = server.get("/__cpu")
            epochs = [it["epoch"] for key in ("iterations", "traced", "layers")
                      for it in res.get(key, [])]
            epochs += [m["epoch"] for m in res.get("matrix", [])]
            # The API digests what it received while the oracle runs here.
            with concurrent.futures.ThreadPoolExecutor(1) as ex:
                stats = ex.submit(server.get,
                                  f"/__stats?names={','.join(epochs)}")
                counts, digests = oracle(args.workload, in_dir)
                stats = stats.result()
            server.stop()
        else:
            oracle_ok = verify_queries(os.path.join(in_dir, "tables"),
                                       os.path.join(run_dir, "verify"))
        log(f"# phases_s: generate {t_gen - t_start:.1f}, engine "
            f"{t_engine - t_gen:.1f}, checks {time.perf_counter() - t_engine:.1f}")
        in_bytes = sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(in_dir) for f in fs)
        log_setup(res, gen_s)
        if server:
            log(f"# input: workload={args.workload} seed={args.seed} "
                f"records={size} expected={counts} bytes={in_bytes}")
            return report_etl(args, res, stats, cpu, counts, digests, gen_s,
                              spans)
        log(f"# input: workload={args.workload} seed={args.seed} "
            f"events={size} bytes={in_bytes}")
        return report_queries(args, res, oracle_ok, gen_s, spans)
    finally:
        if server:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def verify_queries(tables, out):
    """Runs tools/localverify.py on the verification pass's results; returns
    {query: True if it matched its DuckDB oracle}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools",
                                                     "localverify.py"),
                        tables, out], capture_output=True, text=True,
                       timeout=120)
    ok = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "SKIP"):
            ok[rest.split(" ")[0].rstrip(":")] = word == "PASS"
            if word != "PASS":
                log(f"# oracle: {line}")
    return ok


def log_setup(res, gen_s):
    its = res["iterations"]

    def series(key, fmt):
        return " ".join(format(it[key], fmt) for it in its)
    log(f"# samples: {len(its)} iterations; wall_s {series('wall_s', '.2f')}; "
        f"cpu_s {series('cpu_s', '.2f')}; jit_ms {series('jit_ms', 'd')}; "
        f"gc_ms {series('gc_ms', 'd')}; managed_mem_mb "
        f"{series('managed_mem_mb', '.0f')}")
    log(f"# setups_s: generate {gen_s:.3f} + engine "
        f"{', '.join(f'{s:.3f}' for s in res['setups_s'])}; "
        f"then warm-up {res['warmup_s']:.3f}")


def setup_metrics(res, gen_s):
    """Metrics every workload reports with --trace 0, given the records
    each iteration delivered."""
    its = res["iterations"]
    return {
        "setup_s": (med([gen_s + e for e in res["setups_s"]]), "s"),
        "run_s": (med([it["wall_s"] for it in its]), "s"),
        "cpu_s": (med([it["cpu_s"] for it in its]), "s"),
        "managed_mem_mb": (med([it["managed_mem_mb"] for it in its]), "MB"),
    }


def finish(metrics, failures, attempted, failed):
    for name, (v, unit) in metrics.items():
        log(f"# {name} = {v:.6g} {unit}")
    for f in failures:
        log(f"# CHECK FAILED {f}")
    log(f"# correctness: {'PASS' if not failures else 'FAIL'} "
        f"({len(failures)} failures)")
    out = {"correct": not failures, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}}
    print(json.dumps(out), flush=True)
    return out


def report_etl(args, res, stats, cpu, counts, digests, gen_s, spans):
    failures = []
    measured = res["iterations"]
    for it in measured + res.get("traced", []):
        failures += check_epoch(it["epoch"], stats[it["epoch"]], counts,
                                digests, it)
    for it in res.get("layers", []):
        failures += check_epoch(it["epoch"], stats[it["epoch"]], counts,
                                digests, {k: it.get(f"acked.{k}", 0)
                                          for k in KINDS})
    expected = sum(counts[k] for k in KINDS)
    attempted = expected * len(measured)
    acked = sum(sum(it[k] for k in KINDS) for it in measured)

    if args.trace == 0:
        metrics = setup_metrics(res, gen_s)
        metrics["records_per_s"] = (med([
            sum(it[k] for k in KINDS) / it["wall_s"] for it in measured]),
            "records/s")
        metrics["delivered_frac"] = (acked / attempted, "frac")
    else:
        metrics = dict(NOT_APPLICABLE)
        metrics.update(layer_metrics(res, stats, cpu))
        matrix_pass = 0
        for m in res["matrix"]:
            why = check_matrix(m, stats[m["epoch"]])
            matrix_pass += why is None
            log(f"# connector {m['connector']}: "
                f"{'PASS' if why is None else 'FAIL (' + why + ')'}")
        metrics["connectors.pass"] = (matrix_pass, "count")
        metrics["connectors.fail"] = (len(res["matrix"]) - matrix_pass,
                                      "count")
        log(f"# spans: {os.path.relpath(spans, ROOT)}")
    return finish(metrics, failures, attempted, attempted - acked)


def report_queries(args, res, oracle_ok, gen_s, spans):
    """Each query of each measured pass must return exactly the rows of the
    verification pass, and those must match the query's DuckDB oracle."""
    failures = [f"{q}: result differs from its DuckDB oracle"
                for q, ok in sorted(oracle_ok.items()) if not ok]
    verified = res["verified"]
    failures += [f"{q}: not verified" for q in verified if q not in oracle_ok]
    passes = res["iterations"] + res.get("traced", [])
    wrong = 0
    for p in passes:
        for q, r in p["queries"].items():
            if r["digest"] != verified[q]:
                wrong += p in res["iterations"]
                failures.append(f"{p['epoch']}: {q} returned other rows than "
                                f"the verified pass")
    attempted = len(res["iterations"]) * len(verified)
    if args.trace == 0:
        metrics = setup_metrics(res, gen_s)
        metrics["records_per_s"] = (med([
            sum(r["rows"] for r in p["queries"].values()) / p["wall_s"]
            for p in res["iterations"]]), "records/s")
        metrics["delivered_frac"] = ((attempted - wrong) / attempted, "frac")
    else:
        metrics = dict(NOT_APPLICABLE)
        metrics.update(query_metrics(res))
        log(f"# spans: {os.path.relpath(spans, ROOT)}")
    return finish(metrics, failures, attempted, wrong)


# The query mix: `SparkEntry.queries` entries that each have a DuckDB
# oracle and read only the tables `gen.generate_tables` writes: the GA
# typed-flatMap pack, session explosion, and two iterative operators
# (connected components and BFS). A warm pass takes about 5 s on 4 cores,
# the first one in a JVM about 20 s.
QUERIES = ("p10_ga_hit_flatten", "x1_session_explode", "id_resolution_cc",
           "graph_bfs_distance")
QUERY_UNITS = {"s": "s", "jobs": "count", "catalyst_ms": "ms",
               "shuffle_bytes": "B"}

# Per-layer metrics of the ETL layers (from the layered iterations).
LAYER_UNITS = {
    "sources.fetch_s": "s", "sources.fetch_bytes": "B",
    "sources.scan_s": "s", "sources.input_bytes": "B",
    "sources.rows": "count", "sources.corrupt_rows": "count",
    "operators.transform_s": "s", "operators.jobs": "count",
    "operators.stages": "count", "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B", "operators.cache_bytes": "B",
    "operators.input_passes": "ratio", "operators.events_out": "count",
    "operators.profiles_out": "count", "operators.merges_out": "count",
    "sinks.shape_s": "s", "sinks.write_s": "s", "sinks.batches": "count",
    "sinks.records_per_batch": "count", "sinks.posts_per_batch": "ratio",
    "sinks.non2xx": "count", "sinks.post_ms_p50": "ms",
    "sinks.post_ms_p99": "ms", "sinks.tasks": "count",
    "sinks.task_records_max_over_median": "ratio",
}
# Spark counters of a whole traced ETL iteration: metric, counter, unit,
# scale.
PIPELINE_COUNTERS = (
    ("jobs", "jobs", "count", 1), ("stages", "stages", "count", 1),
    ("tasks", "tasks", "count", 1), ("catalyst_ms", "catalyst_ms", "ms", 1),
    ("shuffle_bytes", "shuffle_write_bytes", "B", 1),
    ("exec_cpu_s", "exec_cpu_ns", "s", 1e-9))
# Every per-layer metric, zero where a workload does not run the layer:
# the query mix has no extract or sink, the ETL workloads run no query.
NOT_APPLICABLE = {
    **{k: (0, u) for k, u in LAYER_UNITS.items()},
    "sinks.body_raw_bytes": (0, "B"), "sinks.body_gzip_bytes": (0, "B"),
    "api.requests": (0, "count"), "api.wire_bytes_per_record": (0, "B"),
    **{f"pipeline.{n}": (0, u) for n, _, u, _ in PIPELINE_COUNTERS},
    "pipeline.overlap_s": (0, "s"),
    **{f"query.{q}.{k}": (0, u) for q in QUERIES
       for k, u in QUERY_UNITS.items()},
    "queries.jobs": (0, "count"), "queries.stages": (0, "count"),
    "queries.catalyst_ms": (0, "ms"),
    "trace.run_s": (0, "s"), "trace.overhead_s": (0, "s"),
    "server.cpu_s": (0, "s"),
    "connectors.pass": (0, "count"), "connectors.fail": (0, "count"),
}


def trace_metrics(res):
    """Traced against untraced iteration time."""
    run_s = med([it["wall_s"] for it in res["iterations"]])
    traced_s = med([it["wall_s"] for it in res["traced"]])
    return {"trace.run_s": (traced_s, "s"),
            "trace.overhead_s": (traced_s - run_s, "s")}


def layer_metrics(res, stats, cpu):
    layers, traced, plain = res["layers"], res["traced"], res["iterations"]
    m = {k: (med([it[k] for it in layers]), u) for k, u in LAYER_UNITS.items()}
    m["sinks.body_raw_bytes"] = (med([stats[it["epoch"]]["raw_bytes"]
                                      for it in layers]), "B")
    m["sinks.body_gzip_bytes"] = (med([stats[it["epoch"]]["gzip_bytes"]
                                       for it in layers]), "B")
    m["api.requests"] = (med([sum(stats[it["epoch"]]["requests"].values())
                              for it in plain]), "count")
    m["api.wire_bytes_per_record"] = (med([
        stats[it["epoch"]]["gzip_bytes"] /
        max(1, sum(stats[it["epoch"]]["records"].values()))
        for it in plain]), "B")
    for name, key, unit, scale in PIPELINE_COUNTERS:
        m[f"pipeline.{name}"] = (med([it[f"counter.{key}"] * scale
                                      for it in traced]), unit)
    layer_sum = sum(m[k][0] for k in ("sources.fetch_s", "sources.scan_s",
                                      "operators.transform_s",
                                      "sinks.shape_s", "sinks.write_s"))
    m["pipeline.overlap_s"] = (
        layer_sum - med([it["wall_s"] for it in plain]), "s")
    m.update(trace_metrics(res))
    m["server.cpu_s"] = (med([cpu.get(it["epoch"], 0.0) for it in plain]),
                         "s")
    return m


def query_metrics(res):
    """Per query: untraced time, and the traced pass's Spark counters."""
    plain, traced = res["iterations"], res["traced"]
    m = {}
    for q in QUERIES:
        m[f"query.{q}.s"] = (med([p["queries"][q]["s"] for p in plain]), "s")
        for k, key in (("jobs", "jobs"), ("catalyst_ms", "catalyst_ms"),
                       ("shuffle_bytes", "shuffle_write_bytes")):
            m[f"query.{q}.{k}"] = (med([p["queries"][q][key]
                                        for p in traced]), QUERY_UNITS[k])
    for k, unit in (("jobs", "count"), ("stages", "count"),
                    ("catalyst_ms", "ms")):
        m[f"queries.{k}"] = (med([sum(r[k] for r in p["queries"].values())
                                  for p in traced]), unit)
    m.update(trace_metrics(res))
    return m


if __name__ == "__main__":
    main()
