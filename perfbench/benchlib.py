"""Pure helpers of the benchmark: run planning, percentiles, span self
time, the partition check, output checks, metrics and the result line.

Nothing here starts a process or touches the file system, so
perfbench/tests can exercise all of it without Spark.
"""

import datetime
import json
import math
import random
import statistics

SPAN_KINDS = ("run", "setup", "session", "publish", "ingest", "append",
              "query", "build", "plan", "exec", "job")

MB = 1024.0 * 1024.0


class PartitionError(Exception):
    pass


# ---------------------------------------------------------------- plan

def check_partition(lists, names):
    """Fails unless the lists together hold every name in `names`
    exactly once and nothing else. Returns each list's length."""
    seen = {}
    problems = []
    for wl, qs in lists.items():
        for q in qs:
            if q in seen:
                problems.append(f"{q} is in both {seen[q]} and {wl}")
            seen[q] = wl
    known = set(names)
    problems += [f"{q} is in no workload" for q in names if q not in seen]
    problems += [f"{q} ({wl}) is not a query of the program"
                 for q, wl in seen.items() if q not in known]
    if problems:
        raise PartitionError("; ".join(problems))
    return {wl: len(qs) for wl, qs in lists.items()}


def timed_queries(sample_order, ref_s, seconds):
    """The shortest prefix of the frozen sample order whose reference
    cost reaches `seconds` (the whole order if it never does)."""
    total = 0.0
    for i, q in enumerate(sample_order):
        total += ref_s[q]
        if total >= seconds:
            return sample_order[:i + 1]
    return list(sample_order)


def fixtures_for(queries, fixtures_of, order):
    """The fixtures the queries read, in publish order, and the
    streaming queries whose gated drains the set-up must publish."""
    need = {f for q in queries for f in fixtures_of.get(q, ())}
    gated = [q for q in queries if "gated_streams" in fixtures_of.get(q, ())]
    return [f for f in order if f in need and f != "gated_streams"], gated


def seeded_order(queries, seed):
    """The first query stays pinned; the seed shuffles the rest within
    consecutive blocks of four, so no query moves more than three
    places and JIT warm-up lands on the same part of the list in every
    run."""
    rng = random.Random(f"order-{seed}")
    out = list(queries[:1])
    for i in range(1, len(queries), 4):
        chunk = list(queries[i:i + 4])
        rng.shuffle(chunk)
        out += chunk
    return out


def ingest_schedule(first_day, last_day, seed):
    """Daily cut instants (epoch microseconds, UTC) at a seed-chosen
    hour, one per day from `first_day` to `last_day`, and the index of
    the round the loop re-delivers at the end."""
    rng = random.Random(f"ingest-{seed}")
    hour = rng.randrange(24)
    d0 = datetime.date.fromisoformat(first_day)
    d1 = datetime.date.fromisoformat(last_day)
    cuts = []
    d = d0
    while d <= d1:
        t = datetime.datetime(d.year, d.month, d.day, hour,
                              tzinfo=datetime.timezone.utc)
        cuts.append(int(t.timestamp()) * 1_000_000)
        d += datetime.timedelta(days=1)
    redeliver = rng.randrange(len(cuts) + 1)
    return cuts, redeliver


# ---------------------------------------------------------- statistics

def hd_quantile(values, q):
    """The Harrell-Davis estimate of the q-quantile (0 < q < 1): a
    weighted mean of all order statistics, with weights from the
    Beta((n+1)q, (n+1)(1-q)) distribution over [(i-1)/n, i/n]. On 20-40
    samples it is much steadier than one order statistic, which jumps
    when a gap in the data sits at the quantile. The weights come from
    midpoint integration of the Beta density, 64 points per
    interval."""
    steps = 64
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("quantile of no values")
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    h = 1.0 / (n * steps)
    weights = []
    for i in range(n):
        w = 0.0
        for k in range(steps):
            x = (i * steps + k + 0.5) * h
            w += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_norm)
        weights.append(w)
    total = sum(weights)
    return sum(w * x for w, x in zip(weights, xs)) / total


def beyond(n, q):
    """How many of n samples lie strictly above the q-quantile's rank."""
    return n - 1 - math.floor(q * (n - 1))


def self_times(spans):
    """Self time per span kind: each span's duration minus the part of
    its interval that its children cover (children clipped to the
    parent, overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], max(s["end"], s["start"])
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in kids.get(s["id"], ()))
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        kind = s["name"].split(":", 1)[0]
        out[kind] = out.get(kind, 0.0) + (hi - lo) - covered
    return out


# -------------------------------------------------------------- checks

def check_run(raw, expected):
    """Output checks of one raw run record. Returns (attempted, failures)
    where failures is a list of (operation, reason); an operation with
    several problems is one failure."""
    failures = {}

    def fail(op, why):
        failures.setdefault(op, why)

    ops = raw["setup"]["publish"] + raw["appends"] + raw["queries"]
    for op in ops:
        if op["error"]:
            fail(f'{op["kind"]}:{op["name"]}', op["error"])
    for q in raw["queries"]:
        want = expected.get(q["name"])
        got = {"rows": q.get("n"), "xor": q.get("x"), "sum": q.get("s")}
        if q["error"]:
            continue
        if want is None:
            fail(f'query:{q["name"]}', "no committed output to check against")
        elif got["rows"] != want["rows"]:
            fail(f'query:{q["name"]}', f'rows {got["rows"]} != {want["rows"]}')
        elif (got["xor"], got["sum"]) != (want["xor"], want["sum"]):
            fail(f'query:{q["name"]}', "content hash differs")
    ic = raw.get("ingest_check")
    if raw["appends"]:
        redeliver = raw["appends"][-1]
        if ic is None or "error" in ic:
            fail("ingest:check", (ic or {}).get("error", "missing"))
        else:
            if redeliver.get("rows") not in ("0", 0):
                fail(f'append:{redeliver["name"]}',
                     f're-delivered batch appended {redeliver.get("rows")} rows')
            if str(ic["sink_rows"]) != str(ic["distinct_ids"]):
                fail("ingest:sink", f'sink holds {ic["sink_rows"]} rows, '
                     f'source has {ic["distinct_ids"]} distinct event_id')
    for d in raw["publish_in_query"]:
        fail("setup", f"fixture published inside the timed phase: {d}")
    return len(ops), sorted(failures.items())


# ------------------------------------------------------------- metrics

def end_to_end(raw):
    """The user-visible metrics of one untraced run."""
    walls = [q["wall_s"] for q in raw["queries"]]
    return {
        "setup_s": (raw["setup"]["s"], "s"),
        "run_s": (raw["timed_s"], "s"),
        "queries_per_s": (len(walls) / raw["query_phase_s"], "1/s"),
        "query_p50_s": (hd_quantile(walls, 0.5), "s"),
        "cache_peak_mb": (int(raw["cache_peak_bytes"]) / MB, "MB"),
    }


def _sum(ops, key, field="counters"):
    return sum(int(op[field][key]) for op in ops if field in op)


def per_layer(traced, untraced_run_s, cfg):
    """The per-layer metrics of a traced run; `untraced_run_s` is the
    same run's run_s without tracing, for the tracing overhead, and
    `cfg` is workloads.json."""
    modules, dist, cores = cfg["modules"], set(cfg["dist"]), cfg["cores"]
    m = {}
    pubs = traced["setup"]["publish"]
    wall_of = {p["name"]: p["wall_s"] for p in pubs}
    m["GraftSession.build_s"] = (traced["setup"]["build_s"], "s")
    m["sources.publish_s"] = (sum(wall_of.values()), "s")
    for f in cfg["fixture_order"]:
        m[f"sources.publish_s.{f}"] = (wall_of.get(f, 0.0), "s")
    m["sources.publish_jobs"] = (_sum(pubs, "jobs"), "count")
    m["sources.publish_bytes"] = (_sum(pubs, "output_bytes"), "bytes")
    m["sources.publish_in_query"] = (len(traced["publish_in_query"]), "count")

    ap = traced["appends"]
    rounds = [a["wall_s"] for a in ap if a["name"] != "redeliver"]
    appended = sum(int(a.get("rows") or 0) for a in ap)
    ic = traced.get("ingest_check") or {}
    offered = sum(int(x) for x in ic.get("offered", []))
    append_s = sum(a["wall_s"] for a in ap)
    m["IngestOps.append_s"] = (append_s, "s")
    m["IngestOps.round_p50_s"] = (statistics.median(rounds) if rounds else 0.0, "s")
    m["IngestOps.rows_offered"] = (offered, "rows")
    m["IngestOps.rows_appended"] = (appended, "rows")
    m["IngestOps.useful_ratio"] = (appended / offered if offered else 0.0, "ratio")
    m["IngestOps.rows_per_s"] = (appended / append_s if append_s else 0.0, "rows/s")
    m["IngestOps.bytes_written"] = (int(ic.get("bytes_written", 0)), "bytes")

    qs = traced["queries"]
    m["operators.build_s"] = (sum(q.get("build_s", 0.0) for q in qs), "s")
    m["operators.build_jobs"] = (_sum(qs, "jobs", "build_counters"), "count")
    # the implementing module names the operators layer
    for mod in (x for w in cfg["workloads"].values() for x in w["modules"]):
        m[f"operators.{mod}.wall_s"] = (
            sum(q["wall_s"] for q in qs if modules.get(q["name"]) == mod), "s")

    timed = ap + qs
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = (_sum(timed, f"{phase}_ms") / 1000.0, "s")

    wall = sum(op["wall_s"] for op in timed)
    task_run = _sum(timed, "task_run_ms") / 1000.0
    m["exec.wall_s"] = (wall, "s")
    m["exec.jobs"] = (_sum(timed, "jobs"), "count")
    m["exec.stages"] = (_sum(timed, "stages"), "count")
    m["exec.tasks"] = (_sum(timed, "tasks"), "count")
    m["exec.task_run_s"] = (task_run, "s")
    m["exec.task_cpu_s"] = (_sum(timed, "task_cpu_ns") / 1e9, "s")
    m["exec.gc_s"] = (_sum(timed, "gc_ms") / 1000.0, "s")
    m["exec.shuffle_read_mb"] = (_sum(timed, "shuffle_read_bytes") / MB, "MB")
    m["exec.shuffle_write_mb"] = (_sum(timed, "shuffle_write_bytes") / MB, "MB")
    m["exec.spill_mb"] = (_sum(timed, "spill_bytes") / MB, "MB")
    m["exec.core_util"] = (task_run / (cores * wall) if wall else 0.0, "ratio")
    m["exec.round_s"] = (wall - task_run / cores, "s")

    dq = [q for q in qs if q["name"] in dist]
    m["functions.Dist.wall_s"] = (sum(q["wall_s"] for q in dq), "s")
    m["functions.Dist.jobs"] = (_sum(dq, "jobs"), "count")

    every = pubs + timed
    m["cache.entries_peak"] = (int(traced["cache_entries_peak"]), "count")
    m["cache.blocks_dropped"] = (_sum(every, "blocks_dropped"), "count")
    m["cache.blocks_demoted"] = (_sum(every, "blocks_demoted"), "count")

    m["jvm.rss_peak_mb"] = (int(traced["rss_hwm_kb"]) / 1024.0, "MB")
    m["tracing.overhead_s"] = (traced["timed_s"] - untraced_run_s, "s")
    selfs = self_times(traced["spans"])
    for kind in SPAN_KINDS:
        m[f"span.{kind}.self_s"] = (selfs.get(kind, 0.0), "s")
    return m


# -------------------------------------------------------------- output

def result_line(correct, attempted, failed, metrics):
    """The one-line JSON result: exactly correct, attempted, failed and
    metrics, each metric a value with its unit."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
