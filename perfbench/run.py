#!/usr/bin/env python3
"""The repo benchmark: named workloads of engine ops, run in one Spark
process on local[nproc] from a single client in a closed loop.

    python3 perfbench/run.py --workload kpi_star --seed 1 --seconds 15 --trace 0

A run builds the engine and the harness (perfbench/build.py), starts the
harness JVM on the input tables in perfbench/data, and then:

  1. set-up: runs every op once (the seed's pass-0 order, on nproc-1
     threads), writing its answer, and checks every answer against its
     DuckDB twin with tools/selfcheck.py while one more untimed pass,
     sequential, finishes the warm-up. An op that throws in either pass
     aborts the run; one whose answer differs counts as failed on every
     later attempt.
  2. timed passes: each pass runs every op once, in a seeded permutation
     of the op order. An op is its query function `fn(spark, dir)` plus
     a full-output action (Spark's `noop` sink); the harness times both.
  3. traced runs only (--trace 1), after the timed passes: the layers the
     workload's ops do not reach, once each (see `cover`).
  4. the last stdout line is one JSON object: correct, attempted, failed,
     and the end-to-end metrics (--trace 0) or the per-layer metrics
     (--trace 1, from spans recorded at the same layer boundaries).

The seed permutes the op order and nothing else. METRICS.md defines every
metric.
"""
import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

# Byte copies of the repo's sf0.01 and sf0.1 testdata (data/SHA256SUMS).
DATA = os.path.join(HERE, "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SELFCHECK = os.path.join(build.ROOT, "tools", "selfcheck.py")

# Each op is (name, module): name is a SparkEntry.queries prefix, module is
# the engine layer whose construction time the traced run attributes it to.
# --seconds / pass_s (at least one) is the number of whole timed passes, so
# every run of a workload measures the same op mix whatever the seed.
# `cover` names the one-time build the workload's traced run covers: both
# in one run would take it past the run's time limit on a slow host.
WORKLOADS = {
    "kpi_star": {
        "sf": "sf0.1", "pass_s": 7.5, "cover": "pipeline",
        "ops": [("q01", "kpis"), ("q02", "kpis"), ("q08", "gold"),
                ("q10", "gold"), ("q13", "kpis"), ("q15", "kpis"),
                ("q27", "gold"), ("q39", "kpis"), ("q70", "kpis")]},
    "llm_iterative": {
        "sf": "sf0.01", "pass_s": 7.5, "cover": "streaming",
        "ops": [("q43", "dedup"), ("q95", "graph"), ("q129", "sim")]},
}
# The traced run's coverage ops, at sf0.01: one op for every module the
# workload has no op of, and (streaming) the stream-probe serves after the
# lineages are built.
COVER_SF = "sf0.01"
COVER = {"kpis": "q01", "gold": "q08", "analytics": "q100", "dedup": "q43",
         "sim": "q129", "graph": "q95", "v2demo": "q220", "textops": "q147",
         "termindex": "q159"}
MODULES = list(COVER)
# the gold tables Pipeline.gold writes, by the names of their twins
GOLD_TWINS = 7
STREAM_OPS = ["q180", "q197", "q200", "q201", "q202", "q205", "q208", "q209",
              "q210", "q211", "q212", "q214", "q215", "q216", "q217"]

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("op_geomean_s", "s"),
              ("live_heap_mb", "MB"), ("write_amp", "ratio")]
PER_LAYER = (
    [("tables.open_s", "s"), ("tables.jobs", "count")]
    + [(f"{m}.{k}", u) for m in MODULES
       for k, u in (("construct_s", "s"), ("construct_jobs", "count"))]
    + [("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
       ("catalyst.planning_s", "s"), ("spark.action_s", "s"),
       ("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count"), ("spark.task_busy_s", "s"),
       ("spark.core_util", "ratio"), ("spark.task_wait_s", "s"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
       ("jvm.gc_s", "s"),
       ("pipeline.bronze_s", "s"), ("pipeline.silver_s", "s"),
       ("pipeline.gold_s", "s"), ("pipeline.bytes_written", "bytes"),
       ("pipeline.files_written", "count"),
       ("index.store_bytes", "bytes"), ("index.store_files", "count"),
       ("streaming.build_s", "s"), ("streaming.build_jobs", "count"),
       ("streaming.build_task_busy_s", "s"), ("streaming.serve_s", "s"),
       ("bench.failed_ratio", "ratio"), ("bench.scratch_left_mb", "MB"),
       ("trace.ops_per_s", "1/s")])

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# seconds from the JVM's launch until it is killed: a run must end within
# 180 s of its start once the build is done
RUN_LIMIT_S = 172


class Abort(Exception):
    """A run that cannot give a trustworthy result: no JSON, exit code 1."""


def order(ops, seed, pass_no):
    """The seeded permutation of the op names for one pass."""
    names = [name for name, _ in ops]
    random.Random(f"{seed}/{pass_no}").shuffle(names)
    return names


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). Below 40 samples that percentile would sit
    under p75, so p75 stands in for it."""
    s = sorted(samples)
    n = len(s)
    if n < 40:
        return statistics.quantiles(s, n=4)[2] if n > 1 else s[0], 75.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def dir_size(path):
    """(bytes, files) under path."""
    total = files = 0
    for root, _, names in os.walk(path):
        for f in names:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
                files += 1
            except OSError:
                pass
    return total, files


class SelfCheck:
    """tools/selfcheck.py over the answers in out_dir, in the background:
    wait() returns {answer name: why it differs from its twin}."""

    def __init__(self, data_dir, out_dir):
        self.proc = subprocess.Popen([sys.executable, SELFCHECK, data_dir, out_dir],
                                     stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                     text=True)

    def wait(self):
        out, _ = self.proc.communicate()
        fails = {}
        for line in out.splitlines():
            if line.startswith("FAIL "):
                name, _, why = line[5:].partition(": ")
                fails[name] = why
        if self.proc.returncode != 0 and not fails:
            raise Abort("selfcheck failed:\n" + out[-2000:])
        return fails

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class Harness:
    """The harness JVM, one request per line (perfbench/src/perfbench)."""

    def __init__(self, classes, data_dir, run_dir, cores):
        self.tmp = os.path.join(run_dir, "tmp")
        self.local = os.path.join(run_dir, "local")
        for d in (self.tmp, self.local):
            os.makedirs(d, exist_ok=True)
        jars = os.path.join(build.spark_jars(), "*")
        cmd = (["java"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
                  "-Duser.language=en", "-Duser.country=US",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={self.tmp}", f"-Dspark.local.dir={self.local}",
                  "-cp", f"{classes}{os.pathsep}{jars}",
                  "perfbench.Harness", data_dir, str(cores)])
        self.log_path = os.path.join(run_dir, "harness.log")
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, cwd=run_dir)
        self.watchdog = threading.Timer(RUN_LIMIT_S, self.proc.kill)
        self.watchdog.daemon = True
        self.watchdog.start()
        try:
            self.req(None)
        except Abort:
            self.close()
            raise

    def req(self, line):
        if line is not None:
            self.proc.stdin.write(line + "\n")
            self.proc.stdin.flush()
        for out in self.proc.stdout:
            if out.startswith("@@ "):
                return json.loads(out[3:])
        raise Abort(f"harness exited during {line!r}; log tail:\n" + self.log_tail())

    def log_tail(self):
        self.log.flush()
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-25:])

    def close(self):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.watchdog.cancel()
            self.log.close()

    # the requests the measuring loop makes
    def check(self, ops, dest):
        return self.req(f"check {dest} {','.join(ops)}")

    def set_trace(self, on):
        self.req(f"trace {int(on)}")

    def pass_begin(self, name):
        return self.req(f"pass {name}")

    def run(self, op, data_dir=None, dest=None):
        return self.req(f"run {op}" + (f" {data_dir} {dest}" if dest else ""))

    def tables(self):
        return self.req("tables")

    def pass_end(self):
        return self.req("pass_end")

    def index_store(self):
        """(bytes, files) of the persisted index stores (`graft-*` dirs)."""
        sizes = [dir_size(os.path.join(self.tmp, d)) for d in os.listdir(self.tmp)
                 if d.startswith("graft-")]
        return sum(b for b, _ in sizes), sum(f for _, f in sizes)

    def pipeline(self, data_dir, out):
        return self.req(f"pipeline {data_dir} {out}")

    def gold_answers(self, out, dest):
        return self.req(f"gold_answers {out} {dest}")

    def prewarm(self, data_dir):
        return self.req(f"prewarm {data_dir}")

    def spans(self, path):
        return self.req(f"spans {path}")


def measure(ex, spec, seed, seconds, trace, check, data_dir, out_dir, cores,
            t_start, input_bytes):
    """The measuring loop over an executor `ex` (the Harness requests) for
    one workload spec; check(data_dir, answers_dir) starts a twin check
    (a SelfCheck). Returns the result dict."""
    ops = spec["ops"]
    module = dict(ops)

    # 1. set-up: the checked pass, then one warm-up pass while DuckDB checks
    # the answers. The warm-up pass is sequential like the timed ones: right
    # after the set-up pass the JIT is still settling, and a first timed
    # pass ran 10-60 % slower than the next ones.
    answers = os.path.join(out_dir, "check")
    r = ex.check(order(ops, seed, 0), answers)
    if r["errors"]:
        raise Abort(f"failed in the set-up pass: {r['errors']}")
    checking = check(data_dir, answers)
    try:
        for op in order(ops, seed, 0):
            w = ex.run(op)
            if not w["ok"]:
                raise Abort(f"{op} failed in the warm-up pass: {w['error']}")
        t_wait = time.monotonic()
        fails = checking.wait()
    finally:
        checking.kill()
    wait_s = time.monotonic() - t_wait
    wrong = {op: fails[r["names"][op]] for op, _ in ops if r["names"][op] in fails}
    for op, why in wrong.items():
        print(f"perfbench: {op} differs from its DuckDB twin: {why}", file=sys.stderr)
    setup_s = time.monotonic() - t_start - wait_s
    print(f"perfbench: set-up {setup_s:.1f} s, then {wait_s:.1f} s waiting for the answer check",
          file=sys.stderr)

    # 2. timed passes
    n_passes = max(1, round(seconds / spec["pass_s"]))
    if trace:
        ex.set_trace(True)
    samples = {op: [] for op, _ in ops}
    attempted = failed = 0
    wall = 0.0
    heaps = []
    lay = {name: 0.0 for name, _ in PER_LAYER}
    first = None
    last = None
    for k in range(1, n_passes + 1):
        begin = ex.pass_begin(f"pass{k}")
        first = first or begin["counters"]
        for op in order(ops, seed, k):
            r = ex.run(op)
            attempted += 1
            t = r["construct_s"] + r["action_s"]
            wall += t
            if not r["ok"] or op in wrong:
                failed += 1
                if not r["ok"]:
                    print(f"perfbench: {op} failed: {r['error']}", file=sys.stderr)
            else:
                samples[op].append(t)
            if trace:
                c, a = r["construct"], r["action"]
                lay[f"{module[op]}.construct_s"] += r["construct_s"]
                lay[f"{module[op]}.construct_jobs"] += c.get("jobs", 0)
                lay["spark.action_s"] += r["action_s"]
                lay["jvm.gc_s"] += r["gc_ms"] / 1000.0
                for key in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                            "shuffle_write_bytes", "spill_bytes", "input_bytes"):
                    lay[f"spark.{key}"] += c.get(key, 0) + a.get(key, 0)
                for key in ("task_busy", "task_wait"):
                    lay[f"spark.{key}_s"] += (c.get(f"{key}_ms", 0) + a.get(f"{key}_ms", 0)) / 1e3
                for ph in ("analysis", "optimization", "planning"):
                    lay[f"catalyst.{ph}_s"] += (c.get(f"{ph}_us", 0) + a.get(f"{ph}_us", 0)) / 1e6
        if trace:
            tb = ex.tables()
            lay["tables.open_s"] += tb["s"]
            lay["tables.jobs"] += tb["counters"]["jobs"]
        end = ex.pass_end()
        heaps.append(end["heap_mb"])
        last = end["counters"]

    for op, _ in ops:
        print(f"perfbench: {op} " + " ".join(f"{t:.3f}" for t in samples[op]), file=sys.stderr)
    ok = [t for op, _ in ops for t in samples[op]]
    if not ok:
        raise Abort("no op completed in the timed passes")
    t_val, t_pct, t_n = tail(ok)
    print(f"# op_tail_s is p{t_pct:.1f} of {t_n} samples; "
          f"{n_passes} timed passes of {len(ops)} ops", flush=True)
    written = sum(last[k] - first[k] for k in ("output_bytes", "shuffle_write_bytes", "spill_bytes"))
    per_op = [statistics.median(samples[op]) for op, _ in ops if samples[op]]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / wall,
        "op_p50_s": statistics.median(ok),
        "op_tail_s": t_val,
        "op_geomean_s": math.exp(sum(math.log(x) for x in per_op) / len(per_op)),
        "live_heap_mb": statistics.median(heaps),
        "write_amp": written / n_passes / input_bytes,
    }
    if trace:
        for name in lay:
            lay[name] /= n_passes
        lay["spark.core_util"] = lay["spark.task_busy_s"] / (wall / n_passes * cores)
        lay["bench.failed_ratio"] = failed / attempted
        lay["trace.ops_per_s"] = e2e["ops_per_s"]
        lay["index.store_bytes"], lay["index.store_files"] = ex.index_store()
    return {"correct": not wrong and failed == 0, "attempted": attempted,
            "failed": failed, "e2e": e2e, "layers": lay}


def cover(ex, spec, check, data_dir, out_dir, res):
    """The traced run's coverage of the layers the workload's ops do not
    reach, after its timed passes, on the sf0.01 tables: one op of every
    module with no op in the workload, and either Pipeline
    bronze/silver/gold into a fresh directory (its gold tables read back
    and checked against the q08-q10, q12, q27-q29 twins) or the stream
    lineage builds (EventsStream.prewarmAll) and the 15 stream-probe serves.
    Every coverage op writes its answer, which is checked against its twin;
    one that throws or differs counts as failed. Adds the layers to res."""
    lay = res["layers"]
    gold = None
    ops = [(COVER[m], m) for m in MODULES if m not in {m for _, m in spec["ops"]}]
    if spec["cover"] == "pipeline":
        pipe = os.path.join(out_dir, "pipeline")
        r = ex.pipeline(data_dir, pipe)
        for stage in ("bronze", "silver", "gold"):
            if r[stage]["error"]:
                raise Abort(f"Pipeline.{stage} failed: {r[stage]['error']}")
            lay[f"pipeline.{stage}_s"] = r[stage]["s"]
        lay["pipeline.bytes_written"], lay["pipeline.files_written"] = dir_size(pipe)
        gold = os.path.join(out_dir, "gold")
        r = ex.gold_answers(pipe, gold)
        if r["errors"]:
            raise Abort(f"gold tables unreadable: {r['errors']}")
    else:
        b = ex.prewarm(data_dir)["build"]
        if b["error"]:
            raise Abort(f"EventsStream.prewarmAll failed: {b['error']}")
        lay["streaming.build_s"] = b["s"]
        lay["streaming.build_jobs"] = b["counters"]["jobs"]
        lay["streaming.build_task_busy_s"] = b["counters"]["task_busy_ms"] / 1e3
        ops += [(op, "streaming") for op in STREAM_OPS]

    answers = os.path.join(out_dir, "cover")
    names = {}
    errors = {}
    for op, m in ops:
        r = ex.run(op, data_dir, answers)
        names[op] = r["name"]
        if not r["ok"]:
            errors[op] = r["error"]
        if m == "streaming":
            lay["streaming.serve_s"] += r["construct_s"] + r["action_s"]
        else:
            lay[f"{m}.construct_s"] = r["construct_s"]
            lay[f"{m}.construct_jobs"] = r["construct"].get("jobs", 0)
    checks = [check(data_dir, d) for d in [answers] + ([gold] if gold else [])]
    try:
        fails = [c.wait() for c in checks]
    finally:
        for c in checks:
            c.kill()
    bad = dict(errors)
    bad.update((op, fails[0][n]) for op, n in names.items() if n in fails[0])
    for f in fails[1:]:
        bad.update((f"gold {n}", why) for n, why in f.items())
    for op, why in sorted(bad.items()):
        print(f"perfbench: coverage {op} failed: {why}", file=sys.stderr)
    res["attempted"] += len(names) + (GOLD_TWINS if gold else 0)
    res["failed"] += len(bad)
    res["correct"] = res["correct"] and not bad
    lay["bench.failed_ratio"] = res["failed"] / res["attempted"]


def self_times(span_path):
    """Per span name: total and self seconds (duration minus the part its
    children cover), from the JSON-lines span dump."""
    with open(span_path) as f:
        spans = [json.loads(line) for line in f]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered, cur = 0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], cur), min(c["end_us"], hi)
            if b > a:
                covered += b - a
                cur = b
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += (hi - lo) / 1e6
        agg["self_s"] += (hi - lo - covered) / 1e6
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classes = build.build()
    if not os.path.exists(SELFCHECK):
        raise SystemExit(f"perfbench: {SELFCHECK} is missing")
    spec = WORKLOADS[args.workload]
    data_dir = os.path.join(DATA, spec["sf"])
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = os.path.join(run_dir, "out")
    t_start = time.monotonic()
    ex = None
    try:
        ex = Harness(classes, data_dir, run_dir, cores)
        res = measure(ex, spec, args.seed, args.seconds, args.trace == 1, SelfCheck,
                      data_dir, out_dir, cores, t_start,
                      sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
                          for t in TABLES))
        if args.trace:
            cover(ex, spec, SelfCheck, os.path.join(DATA, COVER_SF), out_dir, res)
            trace_dir = os.path.join(build.BUILD_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
            ex.spans(stem + ".spans.jsonl")
            with open(stem + ".self.json", "w") as f:
                json.dump(self_times(stem + ".spans.jsonl"), f, indent=1, sort_keys=True)
        ex.close()
        left, _ = dir_size(ex.tmp)
        left_local, _ = dir_size(ex.local)
        res["layers"]["bench.scratch_left_mb"] = (left + left_local) / 1048576.0
    except Abort as e:
        print(f"perfbench: run aborted: {e}", file=sys.stderr)
        return 1
    finally:
        if ex:
            ex.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(report(res, args.trace == 1))
    return 0


def report(res, trace):
    """The result line: the verdict, the op counts and every metric of the
    run's kind, by name with its unit."""
    names = PER_LAYER if trace else END_TO_END
    values = res["layers"] if trace else res["e2e"]
    return json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                       "failed": res["failed"],
                       "metrics": {n: {"value": values[n], "unit": u} for n, u in names}})


if __name__ == "__main__":
    sys.exit(main())
