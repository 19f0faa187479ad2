"""Turn one run's raw observations into checked metrics.

The JVM side (``graftbench.Main``) writes what it saw: per-file timestamps,
KV keys, register sweeps, and for a traced pass spans, job totals and
streaming progress. Everything here is plain arithmetic over that record.
"""

import statistics

import plan as plans

TAIL_BEYOND = 10  # a tail percentile needs at least this many samples beyond it

# (name, unit, better, bound): the end-to-end metrics, in print order
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("file_latency_p50_ms", "ms", "lower", 0.2),
    ("file_latency_tail_ms", "ms", "lower", 0.2),
    ("cpu_ms_per_file", "ms", "lower", 0.25),
    ("mem_mb", "MB", "lower", 0.1),
)

# span names whose self time is reported, one per layer boundary
LAYERS = ("streaming.gate.poll", "apps.lpi.process", "exec.job", "sinks.kv", "sinks.register.sweep",
          "streaming.batch")
OVERHEAD_OF = ("file_latency_p50_ms", "cpu_ms_per_file")
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
                 "commitOffsets")

# (name, unit, better): the per-layer metrics of a traced run
PER_LAYER = tuple(
    [("apps.lpi.process_ms", "ms", "lower"), ("apps.lpi.csv_write_ms", "ms", "lower"),
     ("apps.lpi.stats_collect_ms", "ms", "lower"), ("apps.lpi.trim_head_ms", "ms", "lower"),
     ("apps.lpi.spark_jobs", "count", "lower"), ("apps.lpi.tasks", "count", "lower"),
     ("apps.lpi.task_cpu_ms", "ms", "lower"),
     ("sources.udbf.rows_decoded", "count", "lower"), ("sources.udbf.bytes_read", "bytes", "lower"),
     ("streaming.gate.polls", "count", "lower"), ("streaming.gate.poll_ms", "ms", "lower"),
     ("streaming.gate.hold_ms_p50", "ms", "lower"),
     ("streaming.batch.batches", "count", "lower")]
    + [("streaming.batch.%s_ms" % p, "ms", "lower") for p in STREAM_PHASES]
    + [("streaming.batch.queue_ms_p50", "ms", "lower"),
       ("streaming.window.state_rows", "count", "lower"),
       ("streaming.window.state_bytes", "bytes", "lower"),
       ("streaming.window.input_rows", "count", "lower"),
       ("streaming.window.kv_rewrites_per_window", "count", "lower"),
       ("pipeline.archive_ms", "ms", "lower"), ("pipeline.archived", "count", "higher"),
       ("pipeline.deadlettered", "count", "lower"),
       ("sinks.kv.calls", "count", "lower"), ("sinks.kv.ms", "ms", "lower"),
       ("sinks.register.sweeps", "count", "higher"), ("sinks.register.sweep_ms", "ms", "lower"),
       ("sinks.register.keys_consumed", "count", "higher"),
       ("sinks.register.keys_expired_unswept", "count", "lower")]
    + [("catalyst.%s_ms" % p, "ms", "lower") for p in ("analysis", "optimization", "planning")]
    + [("exec.s", "s", "lower"), ("exec.jobs", "count", "lower"),
       ("exec.stages", "count", "lower"), ("exec.tasks", "count", "lower"),
       ("exec.task_run_s", "s", "lower"), ("exec.task_cpu_s", "s", "lower"),
       ("exec.cores_busy_frac", "frac", "higher"),
       ("exec.shuffle_write_bytes", "bytes", "lower"),
       ("exec.shuffle_fetch_wait_ms", "ms", "lower"), ("exec.spill_bytes", "bytes", "lower"),
       ("jvm.gc_s", "s", "lower")]
    + [("self_ms." + s, "ms", "lower") for s in LAYERS]
    + [("trace.spans", "count", "lower")]
    + [("trace.overhead_pct." + m, "%", "lower") for m in OVERHEAD_OF])



def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, sample count); the value is the order
    statistic with exactly TAIL_BEYOND samples above it. When that order
    statistic is not above the median (20 samples or fewer), no tail can be
    told apart from the median: the median is returned as the tail, at
    percentile 50. With no samples, returns None.
    """
    n = len(values)
    if n == 0:
        return None
    k = n - TAIL_BEYOND  # 1-based rank
    if 2 * k <= n:
        return median(values), 50.0, n
    return sorted(values)[k - 1], 100.0 * k / n, n


def median(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Per span name, total duration minus the part its children cover.

    Children's intervals are clipped to the parent and merged, so
    overlapping children are not counted twice.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                           for c in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------- checks

def check(plan, p):
    """(attempted, failed, reasons) for one pass, against the plan's closed forms."""
    wl = plan["workload"]
    obs = {f["name"]: f for f in p["files"]}
    keys = p["keys"]
    consumed = {}  # stats key -> fields the register writer read
    wrong = {}  # stats key -> a register that did not hold its value
    for sw in p["sweeps"]:
        last = {}
        for key, field, value in sw["reads"]:
            consumed.setdefault(key, {})[field] = value
            last[field] = (key, value)
        for field, (key, value) in last.items():
            if sw["registers"][field] != plans.float32(float(value)):
                wrong[key] = "register %s=%r after sweep, expected %s" % (
                    field, sw["registers"][field], value)
    reasons = []
    attempted = plan["files"]
    failed = set()

    def fail(f, why):
        failed.add(f["name"])
        reasons.append("%s: %s" % (f["name"], why))

    for f in attempted:
        o = obs.get(f["name"], {})
        key = plans.stats_key(wl, f)
        if wl == "udbf_window_live":
            k = keys.get(key)
            if not k:
                fail(f, "window key %s never visible" % key)
                continue
            if k["fields"] != plans.expected_fields(f):
                fail(f, "window stats %r" % k["fields"])
            if k["writes"] != 1:
                fail(f, "window written %d times" % k["writes"])
        else:
            out = p["outcome"].get(f["name"], {})
            flag = "health:lpi_%s_file_processing=%s" % (
                f["group"], "1" if f["kind"] == "corrupt" else "0")
            if o.get("process_calls") != 1:
                fail(f, "processed %s times" % o.get("process_calls"))
            if flag not in o.get("health", []):
                fail(f, "no %s" % flag)
            if f["kind"] == "corrupt":
                if not out.get("failed") or out.get("finished") or key in keys:
                    fail(f, "corrupt file not dead-lettered cleanly: %r" % out)
                continue
            if not out.get("finished") or out.get("failed"):
                fail(f, "not archived: %r" % out)
            if out.get("csv") != plans.expected_csv(f):
                fail(f, "csv %r" % out.get("csv"))
            if keys.get(key, {}).get("fields") != plans.expected_fields(f):
                fail(f, "kv %r" % keys.get(key))
        if consumed.get(key, {}) != {k: v for k, v in plans.expected_fields(f).items()
                                     if k in dict(plan["registers"])}:
            fail(f, "register writer read %r" % consumed.get(key))
        if key in wrong:
            fail(f, wrong[key])
    return len(attempted), len(failed), reasons


# --------------------------------------------------------------- metrics

def latencies(plan, p):
    """Per good file, in ms: from the instant the file was due to land (it is
    already old enough for MIN_FILE_AGE_SEC) to its stats key being visible.
    """
    obs = {f["name"]: f for f in p["files"]}
    out = []
    for f in plan["files"]:
        o = obs.get(f["name"])
        if not o or f["kind"] == "corrupt":
            continue
        k = p["keys"].get(plans.stats_key(plan["workload"], f))
        if k and o["due"] is not None:
            out.append(k["visible_at"] - o["due"])
    return out


def end_to_end(plan, p, rss_peak_mb, heap_mb):
    """The end-to-end metrics of one untraced pass, plus its host stamps."""
    lat = latencies(plan, p)
    t = tail(lat)
    done = [f for f in p["files"] if f["done_at"] is not None]
    wall_s = (p["end"] - p["start"]) / 1000.0
    late = [f["landed"] - f["due"] for f in p["files"]
            if f["landed"] is not None and f["due"] is not None]
    metrics = {
        "setup_s": median(p["setup_s"]),
        "file_latency_p50_ms": median(lat),
        "file_latency_tail_ms": t[0] if t else 0.0,
        "cpu_ms_per_file": 1000.0 * p["cpu_s"] / max(len(done), 1),
        # the fixed heap is resident from the start: what lies above it is
        # the off-heap peak, and the heap's share is what stays live
        "mem_mb": rss_peak_mb - heap_mb + p["live_heap_mb"],
    }
    assert list(metrics) == [n for n, *_ in END_TO_END]
    stamps = {
        "latency_samples": len(lat),
        "tail_percentile": t[1] if t else None,
        "bench.gen_late_ms_max": max(late, default=0.0),
        "bench.steal_s": p["steal_s"],
        "bench.ext_cpu_s": p["ext_cpu_s"],
        "bench.jit_cpu_s": p["jit_cpu_s"],
        "rss_peak_mb": rss_peak_mb,
        "live_heap_mb": p["live_heap_mb"],
        "window_s": wall_s,
    }
    return metrics, stamps


# LpiAnalysis runs one job kind per step: the F4 trim's first timestamp,
# the K1 CSV write and the K3 stats collect
JOB_KINDS = {"first_ts": "trim_head", "write": "csv_write", "collect": "stats_collect"}


def per_layer(plan, p, untraced_metrics, traced_metrics, cores):
    """Per-layer metrics of one traced pass, with self times and overhead."""
    spans = p["spans"]
    by_id = {s["id"]: s for s in spans}

    def under(s, name):
        while s["parent"]:
            s = by_id.get(s["parent"])
            if s is None:
                return False
            if s["name"] == name:
                return True
        return False

    files = [f for f in p["files"] if f["process_start"] is not None]
    n_proc = max(len(files), 1)
    n_cut = max(sum(1 for f in plan["files"] if f["kind"] == "cut"
                    and any(o["name"] == f["name"] for o in files)), 1)
    jobs = [s for s in spans if s["name"] == "exec.job"]
    lpi_jobs = [s for s in jobs if under(s, "apps.lpi.process")]

    def job_ms(step):
        return sum(s["end"] - s["start"] for s in lpi_jobs
                   if JOB_KINDS.get(s["attrs"]["site"]) == step)

    def jsum(js, attr):
        return sum(s["attrs"][attr] for s in js)

    m = {
        "apps.lpi.process_ms": sum(f["process_end"] - f["process_start"] for f in files) / n_proc,
        "apps.lpi.csv_write_ms": job_ms("csv_write") / n_proc,
        "apps.lpi.stats_collect_ms": job_ms("stats_collect") / n_proc,
        "apps.lpi.trim_head_ms": job_ms("trim_head") / n_cut,
        "apps.lpi.spark_jobs": len(lpi_jobs) / n_proc,
        "apps.lpi.tasks": jsum(lpi_jobs, "tasks") / n_proc,
        "apps.lpi.task_cpu_ms": jsum(lpi_jobs, "task_cpu_ms") / n_proc,
    }
    # micro-batches of the measured window; the warm-up batch comes before it
    window = [r for r in p["progress"] if r["start"] >= p["start"]]
    prog = [r for r in window if r["input_rows"] > 0]
    # sources: rows from the scan's SQL metric (batch) or the micro-batch
    # input rows (streaming)
    m["sources.udbf.rows_decoded"] = (p["counts"].get("udbf_scan_rows", 0)
                                      + sum(r["input_rows"] for r in window
                                            if plan["workload"] == "udbf_window_live"))
    # the source reports no task input bytes: count the bytes of the files
    # it was handed
    m["sources.udbf.bytes_read"] = sum(f["bytes"] for f in p["files"]
                                       if f["process_start"] is not None or f["landed"] is not None)

    admitted = [f for f in p["files"] if f["admitted"] is not None and f["landed"] is not None]
    m["streaming.gate.polls"] = p["polls"]
    m["streaming.gate.poll_ms"] = p["poll_ms"]
    m["streaming.gate.hold_ms_p50"] = median([f["admitted"] - f["due"] for f in admitted])

    m["streaming.batch.batches"] = len(prog)
    for phase in STREAM_PHASES:
        m["streaming.batch.%s_ms" % phase] = (
            sum(r["duration_ms"].get(phase, 0) for r in prog) / max(len(prog), 1))
    # queue: from admission (janitor move, or landing for the source's own
    # admission) to the start of the micro-batch that processed the file
    starts = sorted(r["start"] for r in prog)
    queue = []
    for f in p["files"]:
        t_in = f["admitted"] if f["admitted"] is not None else f["landed"]
        t_run = f["process_start"] if f["process_start"] is not None else f["done_at"]
        if t_in is None or t_run is None:
            continue
        began = [s for s in starts if t_in <= s <= t_run]
        if began:
            queue.append(began[0] - t_in)
    m["streaming.batch.queue_ms_p50"] = median(queue)

    windows = list(p["keys"].values()) if plan["workload"] == "udbf_window_live" else []
    m["streaming.window.state_rows"] = max((r["state_rows"] for r in window), default=0)
    m["streaming.window.state_bytes"] = max((r["state_bytes"] for r in window), default=0)
    m["streaming.window.input_rows"] = sum(r["input_rows"] for r in window) if windows else 0
    m["streaming.window.kv_rewrites_per_window"] = (
        sum(k["writes"] for k in windows) / len(windows) if windows else 0)

    archive = [f["done_at"] - f["process_end"] for f in files if f["done_at"] is not None]
    outcome = p["outcome"].values()
    m["pipeline.archive_ms"] = sum(archive) / max(len(archive), 1)
    m["pipeline.archived"] = sum(1 for o in outcome if o["finished"])
    m["pipeline.deadlettered"] = sum(1 for o in outcome if o["failed"])

    m["sinks.kv.calls"] = p["kv_calls"]
    m["sinks.kv.ms"] = p["kv_ms"]
    sweeps = p["sweeps"]
    read_keys = {r[0] for sw in sweeps for r in sw["reads"]}
    good = [f for f in plan["files"] if f["kind"] != "corrupt"
            and plans.stats_key(plan["workload"], f) in p["keys"]]
    m["sinks.register.sweeps"] = len(sweeps)
    m["sinks.register.sweep_ms"] = sum(s["end"] - s["start"] for s in sweeps) / max(len(sweeps), 1)
    m["sinks.register.keys_consumed"] = sum(s["consumed"] for s in sweeps)
    m["sinks.register.keys_expired_unswept"] = sum(
        1 for f in good if plans.stats_key(plan["workload"], f) not in read_keys)

    for phase in ("analysis", "optimization", "planning"):
        m["catalyst.%s_ms" % phase] = p["catalyst"].get(phase, 0.0)
    wall_s = (p["end"] - p["start"]) / 1000.0
    run_s = jsum(jobs, "task_run_ms") / 1000.0
    m.update({
        "exec.s": sum(s["end"] - s["start"] for s in jobs) / 1000.0,
        "exec.jobs": len(jobs),
        "exec.stages": jsum(jobs, "stages"),
        "exec.tasks": jsum(jobs, "tasks"),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": jsum(jobs, "task_cpu_ms") / 1000.0,
        "exec.cores_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.shuffle_write_bytes": jsum(jobs, "shuffle_write_bytes"),
        "exec.shuffle_fetch_wait_ms": jsum(jobs, "shuffle_fetch_wait_ms"),
        "exec.spill_bytes": jsum(jobs, "spill_bytes"),
        "jvm.gc_s": p["gc_s"],
    })

    # self time per layer; micro-batches join as spans from their progress
    batch_spans = [dict(id=-(i + 1), name="streaming.batch", start=r["start"],
                        end=r["start"] + r["duration_ms"].get("triggerExecution", 0),
                        parent=0) for i, r in enumerate(prog)]
    roots = [s for s in spans if s["parent"] == 0]
    for s in roots:  # a root span inside a micro-batch is that batch's child
        for b in batch_spans:
            if b["start"] <= s["start"] and s["end"] <= b["end"]:
                s["parent"] = b["id"]
                break
    selfs = self_times(spans + batch_spans)
    for layer in LAYERS:
        m["self_ms." + layer] = selfs.get(layer, 0.0)
    m["trace.spans"] = len(spans) + len(batch_spans)
    for name in OVERHEAD_OF:
        cost = traced_metrics[name] - untraced_metrics[name]
        m["trace.overhead_pct." + name] = 100.0 * cost / untraced_metrics[name]
    assert list(m) == [n for n, _, _ in PER_LAYER], set(m) ^ {n for n, _, _ in PER_LAYER}
    return m
