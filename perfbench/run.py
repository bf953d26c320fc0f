#!/usr/bin/env python3
"""Runs one benchmark workload once and prints its result.

    python3 perfbench/run.py --workload ga_etl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the program from source if
needed (perfbench/build.py), starts one fresh JVM per run
(GraftSession on local[4]) and drives it with a single closed-loop
client. `--seconds` sizes the timed phase: the run executes the
shortest prefix of the workload's frozen sample order whose reference
cost reaches that many seconds, or the whole frozen list when its
cost is less (any `--seconds` above 100 runs every query of the
workload under the same output checks). `--seed` picks the ingest loop's cut
hour and re-delivered batch, and the order of the timed queries after
the pinned first one; the inputs are the committed parquet under
perfbench/data.

`--trace 0` prints the end-to-end metrics. `--trace 1` prints the
per-layer metrics of a traced run and writes its spans to
.bench_work/traces/; its tracing overhead is measured against the
median run_s of the untraced runs this checkout has made of the same
build and query list, and when there are none it makes one first.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. Progress, failures and the JVM's log
tail on error go to stderr. Everything the run writes stays under
.bench_build/ and .bench_work/, except the fixture directories the
program's CachedDir publishes under /tmp, which are removed when the
run ends.
"""

import argparse
import json
import os
import pathlib
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import benchlib  # noqa: E402
import build  # noqa: E402

DEADLINE_S = 170.0
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def fixture_key(data_dir):
    """The part of CachedDir's published directory names that is unique
    to one source directory."""
    return "_" + re.sub(r"[^A-Za-z0-9.]", "_", str(data_dir)) + "_"


def remove_fixtures(data_dir):
    key = fixture_key(data_dir)
    for p in pathlib.Path("/tmp").glob("graft_*"):
        if key in p.name:
            shutil.rmtree(p, ignore_errors=True)


def run_jvm(root, classpath, cfg, queries, args, traced, deadline):
    """One fresh-JVM run; returns its raw record."""
    run_id = f"{args.workload}-s{args.seed}-t{int(traced)}-{os.getpid()}-{time.time_ns()}"
    work = root / ".bench_work" / run_id
    data = work / "data"
    data.mkdir(parents=True)
    for f in sorted((root / cfg["data"]).glob("*.parquet")):
        shutil.copyfile(f, data / f.name)  # new mtime: a cold fingerprint
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir()
    fixtures, gated = benchlib.fixtures_for(
        queries, cfg["fixtures"], cfg["fixture_order"])
    plan = {
        "run_id": run_id, "trace": int(traced), "cores": cfg["cores"],
        "data": data,
        "fixtures": ",".join(fixtures), "gated": ",".join(gated),
        "queries": ",".join(benchlib.seeded_order(queries, args.seed)),
        "warehouse": work / "warehouse", "local_dir": work / "local",
        "out": work / "raw.json",
    }
    if cfg["workloads"][args.workload]["ingest"]:
        cuts, redeliver = benchlib.ingest_schedule(*cfg["ingest"]["days"], args.seed)
        plan.update(ingest_cuts_us=",".join(map(str, cuts)),
                    ingest_redeliver=redeliver, ingest_sink=work / "sink",
                    ingest_overlap_s=cfg["ingest"]["overlap_s"])
    (work / "plan.txt").write_text("".join(f"{k}={v}\n" for k, v in plan.items()))
    cmd = ["java", "-Xmx3g", *JVM_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "graftbench.Harness", str(work / "plan.txt")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    logf = work / "jvm.log"
    try:
        with open(logf, "w") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                    cwd=work, env=env)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not (work / "raw.json").is_file():
            tail = logf.read_text(errors="replace").splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            raise SystemExit(f"[perfbench] the JVM run failed ({code})")
        raw = (work / "raw.json").read_text()
        (root / ".bench_work" / f"last-{args.workload}-t{int(traced)}.json").write_text(raw)
        return json.loads(raw)
    finally:
        remove_fixtures(data)
        shutil.rmtree(work, ignore_errors=True)


def checked(raw, cfg, expected, queries):
    counts = benchlib.check_partition(
        {w: v["queries"] for w, v in cfg["workloads"].items()}, raw["all_queries"])
    log("partition " + " / ".join(f"{w} {n}" for w, n in counts.items()))
    missing = [q for q in queries if q not in {r["name"] for r in raw["queries"]}]
    attempted, failures = benchlib.check_run(raw, expected)
    failures += [(f"query:{q}", "not run") for q in missing]
    for op, why in failures:
        log(f"FAILED {op}: {why}")
    return attempted, len(failures)


def main():
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = json.loads((HERE / "workloads.json").read_text())
    args = parse_args(list(cfg["workloads"]))
    root = pathlib.Path.cwd().resolve()
    if not (root / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit("[perfbench] run from the root of a checkout: "
                         "src/main/scala/graft/SparkEntry.scala is missing")
    expected = json.loads((HERE / "expected.json").read_text())
    classpath, stamp = build.build(root)
    deadline = time.monotonic() + DEADLINE_S
    wl = cfg["workloads"][args.workload]
    queries = benchlib.timed_queries(wl["sample_order"], cfg["ref_s"], args.seconds)
    log(f"{args.workload}: {len(queries)} of {len(wl['queries'])} queries, seed {args.seed}")
    # untraced run_s of this build and query list, for the tracing overhead
    history = (root / ".bench_work" / "history" /
               f"{args.workload}-{len(queries)}q-{stamp[:16]}.json")
    past = json.loads(history.read_text()) if history.is_file() else []

    attempted = failed = 0
    try:
        if not (args.trace and past):
            raw = run_jvm(root, classpath, cfg, queries, args, False, deadline)
            attempted, failed = checked(raw, cfg, expected, queries)
            past.append(raw["timed_s"])
            history.parent.mkdir(parents=True, exist_ok=True)
            history.write_text(json.dumps(past))
        if args.trace:
            traced = run_jvm(root, classpath, cfg, queries, args, True, deadline)
            a2, f2 = checked(traced, cfg, expected, queries)
            attempted, failed = attempted + a2, failed + f2
            metrics = benchlib.per_layer(traced, statistics.median(past), cfg)
            out = root / ".bench_work" / "traces"
            out.mkdir(parents=True, exist_ok=True)
            path = out / f"{args.workload}-seed{args.seed}.json"
            path.write_text(json.dumps({"run": traced["run_id"], "spans": traced["spans"]}))
            log(f"spans: {path}")
        else:
            metrics = benchlib.end_to_end(raw)
            n = len(raw["queries"])
            log(f"query_p50_s over {n} queries, {benchlib.beyond(n, 0.5)} beyond it")
    except benchlib.PartitionError as e:
        raise SystemExit(f"[perfbench] the frozen workload lists do not "
                         f"partition SparkEntry.queries: {e}")
    for k, (v, unit) in metrics.items():
        log(f"{k} = {v:.6g} {unit}")
    print(benchlib.result_line(failed == 0, attempted, failed, metrics))


if __name__ == "__main__":
    main()
