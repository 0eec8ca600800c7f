#!/usr/bin/env python3
"""graft's benchmark: one named workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload corpus_dedup|ods_writeback \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the program and the
benchmark from source (see build.py) and prepares what set-up must not
pay for: the oracle results of the query workloads (oracle.py) and the
re-laid sf0.1 tables. Every run then:

1. takes a host-speed reading (`scripts/host_speed.py`, a fixed
   single-core loop);
2. starts the JVM, which sets up, runs the workload for S seconds and
   records what it measured;
3. checks the outputs against a computation made apart from the program:
   DuckDB's oracle for the queries, the generator's expectations for
   ods_writeback;
4. takes a second host-speed reading;
5. prints the host-speed stamp, then, as the last line, one JSON object:
   `correct`, `attempted`, `failed` and the `metrics` — the end-to-end ones
   with `--trace 0`, the per-layer ones with `--trace 1`.

`--self-test` feeds each workload's comparison one deliberately wrong
answer and confirms that the check rejects it.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import odsgen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

JVM_HEAP = "3g"
RUN_LIMIT_S = 170
DATA = oracle.DATA
PHASES = [("ods_import_s", "import_s"), ("ods_reimport_s", "reimport_s"),
          ("writeback_s", "writeback_s")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def host_speed():
    """One reading of scripts/host_speed.py: seconds for its fixed loop."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "host_speed.py"), "1"],
                       stdout=subprocess.PIPE, text=True, check=True)
    return float(r.stdout)


def prepare(out):
    """Once per build, outside every timed run: re-lay the sf0.1 tables
    with `Layout.benchLayout` (it keys the layout on the data path, the
    core count and the files' sizes and times, and reuses it), so that no
    run's `setup_s` carries the layout build."""
    with open(os.path.join(out, "classes.stamp")) as f:
        key = json.dumps([f.read(), DATA, cpus()] + [
            [n, os.path.getsize(os.path.join(DATA, n)),
             int(os.path.getmtime(os.path.join(DATA, n)))]
            for n in sorted(os.listdir(DATA))])
    stamp = os.path.join(out, "prepare.stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    log("prepare: re-laying the sf0.1 tables")
    if os.path.exists(stamp):
        os.remove(stamp)
    rc, _ = jvm(out, ["prepare", "--data", DATA], os.path.join(out, "prepare.log"))
    if rc != 0:
        raise SystemExit(f"prepare failed, see {os.path.join(out, 'prepare.log')}")
    with open(stamp, "w") as f:
        f.write(key)


def jvm(out, args, log_path, timeout=RUN_LIMIT_S):
    """Run perfbench.Main; return (exit code, peak RSS in MB)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    cmd = build.java_base(out) + [
        f"-Xmx{JVM_HEAP}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
        "-cp", build.classpath(out), "perfbench.Main"] + args
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=lf, stderr=subprocess.STDOUT)
        deadline = time.monotonic() + timeout
        try:
            while True:
                pid, status, usage = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    p.returncode = os.waitstatus_to_exitcode(status)
                    return p.returncode, usage.ru_maxrss / 1024.0
                if time.monotonic() > deadline:
                    raise SystemExit(f"the JVM ran past {timeout} s, see {log_path}")
                time.sleep(0.02)
        finally:
            if p.returncode is None:
                p.kill()
                p.wait()


def check_queries(record, run_dir, workload, out):
    sql = build.oracle_sql(out)
    expected = oracle.ensure(sql, workloads.QUERIES[workload], build.tmp_dir(out), log=log)
    import duckdb
    con = duckdb.connect(config={"temp_directory": build.tmp_dir(out)})
    errors = []
    try:
        for q in record["checked"]:
            df = con.sql(f"SELECT * FROM '{run_dir}/results/{q}/*.parquet'").df()
            why = oracle.compare(expected[q], oracle.summarize(df))
            if why:
                errors.append(f"{q}: {why}")
    finally:
        con.close()
    return errors


def check_ods(record, run_dir):
    with open(os.path.join(run_dir, "inputs", "expect.json")) as f:
        expect = json.load(f)
    with open(os.path.join(run_dir, "store.tsv")) as f:
        lines = f.readlines()
    return odsgen.check(record, lines, expect)


def execute(workload, seed, seconds, trace, out):
    """One run; returns (result, stamp, record)."""
    run_dir = os.path.join(out, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["run", "--workload", workload, "--seconds", str(seconds),
            "--trace", str(trace), "--out", run_dir]
    prepare(out)
    if workload == "ods_writeback":
        params = odsgen.generate(seed, os.path.join(run_dir, "inputs"))
        args += ["--data", os.path.join(run_dir, "inputs")]
        for k, v in params.items():
            args += [f"--{k}", v]
    else:
        oracle.ensure(build.oracle_sql(out), workloads.QUERIES[workload],
                      build.tmp_dir(out), log=log)
        args += ["--data", DATA,
                 "--queries", ",".join(workloads.query_order(workload, seed))]

    before = host_speed()
    spawned = time.time()
    rc, rss = jvm(out, args, os.path.join(run_dir, "jvm.log"))
    result, stamp, record = _finish(workload, trace, out, run_dir, rc, rss, spawned)
    stamp["host_speed_s"] = {"before": before, "after": host_speed()}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"stamp": stamp, **result}, f, indent=1)
    return result, stamp, record


def _finish(workload, trace, out, run_dir, rc, rss, spawned):
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.readlines()[-25:]
        log("".join(tail))
        raise SystemExit(f"the JVM exited with {rc}, see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "record.json")) as f:
        record = json.load(f)

    if workload == "ods_writeback":
        correct, failed, errors = check_ods(record, run_dir)
        measured = [r for r in record["rounds"] if r["measured"]]
        samples = [r["import_s"] + r["reimport_s"] + r["writeback_s"] for r in measured]
        phases = {name: statistics.median(r[k] for r in measured) for name, k in PHASES}
    else:
        errors = check_queries(record, run_dir, workload, out)
        correct, failed = not errors, 0
        samples = record["suite_s"]
        phases = {}
    failed += record["failed"]
    errors = record["errors"] + errors
    for e in errors[:20]:
        log(f"check: {e}")

    stamp = {"samples": len(samples)}
    if trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in record["layers"].items()}
        for name, _ in PHASES:
            metrics[name] = {"value": phases.get(name, 0.0), "unit": "s"}
        metrics["peak_rss_mb"] = {"value": rss, "unit": "MB"}
        _trace_summary(run_dir)
        stamp["traced_suite_s"] = statistics.median(samples)
    else:
        metrics = {
            "setup_s": {"value": record["setup_end_epoch_s"] - spawned, "unit": "s"},
            "suite_s": {"value": statistics.median(samples), "unit": "s"},
        }
        stamp["peak_rss_mb"] = round(rss, 1)
        stamp.update({k: round(v, 4) for k, v in phases.items()})
    stamp["errors"] = errors[:20]
    result = {"correct": correct,
              "attempted": record["attempted"], "failed": failed,
              "metrics": metrics}
    return result, stamp, record


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _trace_summary(run_dir):
    """Self time per span name: a span's duration minus the part of it its
    child spans cover."""
    with open(os.path.join(run_dir, "spans.json")) as f:
        spans = json.load(f)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_name = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        dur = s["end_ns"] - s["start_ns"]
        d = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        d["count"] += 1
        d["total_s"] += dur / 1e9
        d["self_s"] += (dur - covered) / 1e9
    with open(os.path.join(run_dir, "trace_summary.json"), "w") as f:
        json.dump(by_name, f, indent=1, sort_keys=True)


def self_test(out):
    """Each comparison must reject one deliberately wrong answer."""
    import copy
    import duckdb
    ok = True

    def expect(label, bad):
        nonlocal ok
        print(f"self-test: {label}: {'rejected' if bad else 'NOT rejected'}")
        ok &= bool(bad)

    _, _, record = execute("corpus_dedup", 1, 1, 0, out)
    run_dir = os.path.join(out, "runs", "corpus_dedup-1-0")
    q = record["checked"][0]
    want = oracle.ensure(build.oracle_sql(out), [q], build.tmp_dir(out))[q]
    con = duckdb.connect()
    df = con.sql(f"SELECT * FROM '{run_dir}/results/{q}/*.parquet'").df()
    con.close()
    if oracle.compare(want, oracle.summarize(df)):
        raise SystemExit(f"self-test: {q}'s real result does not pass")
    col = sorted(df.columns)[0]
    v = df.at[0, col]
    df.at[0, col] = (v + 1) if df[col].dtype.kind in "iuf" else f"{v}~"
    expect(f"corpus_dedup: {q} with one altered row",
           oracle.compare(want, oracle.summarize(df)))

    _, _, record = execute("ods_writeback", 1, 1, 0, out)
    run_dir = os.path.join(out, "runs", "ods_writeback-1-0")
    good = check_ods(record, run_dir)
    if not good[0]:
        raise SystemExit(f"self-test: the real ods_writeback outputs do not pass: {good[2][:3]}")
    extra = copy.deepcopy(record)
    extra["rounds"][0]["import"][0][0] += 1
    expect("ods_writeback: one extra planned insert", not check_ods(extra, run_dir)[0])
    wrong = copy.deepcopy(record)
    tasks = wrong["rounds"][0]["tasks"]
    with open(os.path.join(run_dir, "inputs", "expect.json")) as f:
        branches = json.load(f)["tasks"]
    tid = next(t for t, e in sorted(branches.items()) if e["branch"] == "completed")
    task = json.loads(tasks[tid])
    task["status"] = "cancelled"
    tasks[tid] = json.dumps(task)
    expect("ods_writeback: one Task written back with the wrong status",
           not check_ods(wrong, run_dir)[0])
    return 0 if ok else 1


def main(argv):
    # a terminated run still stops and reaps the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args(argv)
    out = build.ensure_built(ROOT, log=log)
    if a.self_test:
        return self_test(out)
    if not a.workload:
        ap.error("--workload is required")
    result, stamp, _ = execute(a.workload, a.seed, a.seconds, a.trace, out)
    print("stamp " + json.dumps({k: v for k, v in stamp.items() if k != "errors"}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
