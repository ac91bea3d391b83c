"""The benchmark's arithmetic, kept free of Spark and I/O so that
`perfbench/tests/test_metrics.py` can pin it.

Input is the record the JVM harness writes (see harness/Harness.scala):
setups, passes (wall time and always-on write counters), op samples and,
for a traced run, raw listener spans. Times from listeners are epoch ms.
"""
import bisect
import math
import statistics

MB = float(1 << 20)


def percentile(values, q, beyond=10):
    """Percentile `q` (0 < q < 1), lowered when needed so that at least
    `beyond` samples lie above its nearest rank: the highest percentile the
    sample count can support. The value is the Harrell-Davis estimate at
    that percentile, a weighted mean of the order statistics around the
    rank, so it does not jump between two ops' latencies when their samples
    trade places. Returns (value, effective percentile, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot support any percentile "
                         f"with {beyond} beyond it")
    k = max(1, min(math.ceil(q * n), n - beyond))  # 1-based nearest rank
    p = k / n
    w = harrell_davis_weights(n, p)
    return sum(wi * x for wi, x in zip(w, xs)), p, n


def harrell_davis_weights(n, p, steps=200):
    """Weight of each of `n` order statistics in the Harrell-Davis estimate
    of percentile `p`: the mass of Beta(p(n+1), (1-p)(n+1)) on
    [(i-1)/n, i/n], by Simpson's rule. Both shape parameters exceed 1 for
    the percentiles `percentile` asks for, so the density is finite."""
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
                        - log_beta)

    h = 1.0 / (n * steps)
    w = []
    for i in range(n):
        x0 = i / n
        s = pdf(x0) + pdf(x0 + steps * h)
        s += sum(pdf(x0 + j * h) * (4 if j % 2 else 2)
                 for j in range(1, steps))
        w.append(s * h / 3)
    return w


def union_ms(spans):
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_other_ms(wall_ms, job_spans, planning_ms):
    """Op wall time spent neither inside a Spark job nor in Catalyst
    planning: wall - |union of job spans| - planning, never below 0.
    Overlapping jobs (async subqueries, streaming micro-batches) count
    once."""
    return max(0.0, wall_ms - union_ms(job_spans) - planning_ms)


def failure_counts(samples, expected):
    """(attempted, failed, mismatched): a sample fails when it threw or
    timed out (it carries `error`) or when its (rows, hash) differs from
    the expected record of its op; `mismatched` counts the latter only."""
    failed = mismatched = 0
    for s in samples:
        if "error" in s:
            failed += 1
            continue
        exp = expected[s["op"]]
        if s["rows"] != exp["rows"] or str(s["hash"]) != str(exp["hash"]):
            failed += 1
            mismatched += 1
    return len(samples), failed, mismatched


def write_amp(pass_bytes, corpus_bytes):
    """Bytes one pass writes — task output + shuffle write + disk spill —
    over the on-disk bytes of the workload's input corpus."""
    if corpus_bytes <= 0:
        raise ValueError("corpus_bytes must be positive")
    written = (pass_bytes["output"] + pass_bytes["shuffle_write"] +
               pass_bytes["spill"])
    return written / corpus_bytes


def setup_seconds(setup):
    return setup["session_s"] + setup["warmup_s"] + setup["prewarm_s"]


def counted_passes(record, traced):
    """The run's counted passes, traced or not. Their number is fixed per
    workload; passes run past it only to fill `--seconds` are left out."""
    return [p for p in record["passes"]
            if p["counted"] and p["traced"] == traced]


def op_latencies(record, passes):
    """Wall time of every op sample in `passes`, failed samples included
    (at the time they took to throw or time out), so that the sample count
    does not depend on what the run got right."""
    timed = {p["pass"] for p in passes}
    return [s["wall_s"] for s in record["samples"] if s["pass"] in timed]


def end_to_end(record, corpus_bytes):
    """Every end-to-end metric of an untraced run, plus the detail lines
    printed beside them (sample count, effective percentile)."""
    passes = counted_passes(record, traced=False)
    p50, q50, n = percentile(op_latencies(record, passes), 0.50)
    metrics = {
        "setup_s": statistics.median(setup_seconds(s)
                                     for s in record["setups"]),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": p50,
        "write_amp": statistics.median(write_amp(p["bytes"], corpus_bytes)
                                       for p in passes),
    }
    detail = {"samples": n, "op_p50_pct": q50, "passes": len(passes),
              "peak_rss_mb": record["vm_hwm_kb"] / 1024.0}
    return metrics, detail


class Attributor:
    """Assigns a listener event time to the op sample whose window holds
    it. The loop is closed (one op at a time), so windows never overlap;
    `slack_ms` absorbs the listener's own clock reads landing just past
    an op's end."""

    def __init__(self, samples, slack_ms=50.0):
        self.samples = sorted(samples, key=lambda s: s["start"])
        self.starts = [s["start"] for s in self.samples]
        self.slack = slack_ms

    def __call__(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i < 0:
            return None
        s = self.samples[i]
        return i if t <= s["end"] + self.slack else None


PER_OP_SUMS = ["build_ms", "analysis_ms", "optimization_ms", "planning_ms",
               "jobs", "stages", "tasks", "job_ms", "driver_other_ms",
               "task_cpu_ms", "gc_ms", "shuffle_write_mb", "shuffle_read_mb",
               "spill_mb", "failed_tasks", "input_mb", "files_scanned",
               "rows_scanned", "rows_returned", "output_mb",
               "records_written", "files_written", "batches",
               "add_batch_ms", "wal_commit_ms", "query_planning_ms",
               "trigger_ms"]


def per_op_spans(samples, trace):
    """One dict of layer figures per traced op sample, in start order,
    built by attributing every recorded span to its op."""
    at = Attributor(samples)
    ops = [dict({k: 0.0 for k in PER_OP_SUMS}, peak_exec_mem_mb=0.0,
                job_spans=[]) for _ in at.samples]
    for j in trace["jobs"]:
        i = at(j["start"])
        if i is not None:
            ops[i]["jobs"] += 1
            ops[i]["job_spans"].append((j["start"], j["end"]))
    for st in trace["stages"]:
        i = at(st["t"])
        if i is not None:
            ops[i]["stages"] += 1
    for t in trace["tasks"]:
        i = at(t["t"])
        if i is None:
            continue
        o = ops[i]
        o["tasks"] += 1
        o["failed_tasks"] += t["failed"]
        if "cpu_ns" in t:
            o["task_cpu_ms"] += t["cpu_ns"] / 1e6
            o["gc_ms"] += t["gc_ms"]
            o["shuffle_write_mb"] += t["shuffle_write"] / MB
            o["shuffle_read_mb"] += t["shuffle_read"] / MB
            o["spill_mb"] += t["spill"] / MB
            o["input_mb"] += t["input"] / MB
            o["output_mb"] += t["output"] / MB
            o["records_written"] += t["records_written"]
            o["peak_exec_mem_mb"] = max(o["peak_exec_mem_mb"],
                                        t["peak_mem"] / MB)
    for q in trace["queries"]:
        i = at(q["t"])
        if i is None:
            continue
        o = ops[i]
        for k in ("analysis_ms", "optimization_ms", "planning_ms",
                  "files_scanned", "rows_scanned", "files_written"):
            o[k] += q[k]
    for p in trace["streaming"]:
        i = at(p["t"])
        if i is None:
            continue
        o = ops[i]
        o["batches"] += 1
        for k in ("add_batch_ms", "wal_commit_ms", "query_planning_ms",
                  "trigger_ms"):
            o[k] += p[k]
    for s, o in zip(at.samples, ops):
        wall_ms = s["wall_s"] * 1000.0
        o["build_ms"] = s.get("build_s", s["wall_s"]) * 1000.0
        o["rows_returned"] = s.get("rows", 0)
        o["job_ms"] = union_ms(o["job_spans"])
        plan_ms = o["analysis_ms"] + o["optimization_ms"] + o["planning_ms"]
        o["driver_other_ms"] = driver_other_ms(wall_ms, o["job_spans"],
                                               plan_ms)
        del o["job_spans"]
        o["op"] = s["op"]
        o["pass"] = s["pass"]
    return ops


def per_layer(record):
    """Every per-layer metric of a traced run (per-pass totals, median over
    traced passes) and the per-op detail (median over that op's traced
    samples) kept in the trace artifact."""
    traced = counted_passes(record, traced=True)
    plain = counted_passes(record, traced=False)
    tp = {p["pass"] for p in traced}
    samples = [s for s in record["samples"] if s["pass"] in tp]
    ops = per_op_spans(samples, record["trace"])

    def pass_median(f):
        return statistics.median(f([o for o in ops if o["pass"] == p])
                                 for p in sorted(tp))

    def total(k):
        return pass_median(lambda os: sum(o[k] for o in os))

    m = {
        "operators.build_ms": total("build_ms"),
        "plans.analysis_ms": total("analysis_ms"),
        "plans.optimization_ms": total("optimization_ms"),
        "plans.planning_ms": total("planning_ms"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "driver.other_ms": total("driver_other_ms"),
        "exec.job_ms": total("job_ms"),
        "exec.task_cpu_ms": total("task_cpu_ms"),
        "exec.gc_ms": total("gc_ms"),
        "exec.shuffle_write_mb": total("shuffle_write_mb"),
        "exec.shuffle_read_mb": total("shuffle_read_mb"),
        "exec.spill_mb": total("spill_mb"),
        "exec.peak_exec_mem_mb": pass_median(
            lambda os: max(o["peak_exec_mem_mb"] for o in os)),
        "exec.failed_tasks": total("failed_tasks"),
        "sources.input_mb": total("input_mb"),
        "sources.files_scanned": total("files_scanned"),
        "sources.rows_scanned_per_row_returned": pass_median(
            lambda os: sum(o["rows_scanned"] for o in os) /
            max(1, sum(o["rows_returned"] for o in os))),
        "sources.output_mb": total("output_mb"),
        "sources.records_written": total("records_written"),
        "sources.files_written": total("files_written"),
        "streaming.batches": total("batches"),
        "streaming.add_batch_ms": total("add_batch_ms"),
        "streaming.wal_commit_ms": total("wal_commit_ms"),
        "streaming.query_planning_ms": total("query_planning_ms"),
        "streaming.trigger_ms": total("trigger_ms"),
        "setup.session_s": statistics.median(
            s["session_s"] for s in record["setups"]),
        "setup.warmup_s": statistics.median(
            s["warmup_s"] for s in record["setups"]),
        "setup.prewarm_s": statistics.median(
            s["prewarm_s"] for s in record["setups"]),
        "trace.overhead_frac": overhead_frac(
            [p["wall_s"] for p in traced], [p["wall_s"] for p in plain]),
    }
    by_op = {}
    for o in ops:
        by_op.setdefault(o["op"], []).append(o)
    detail = {op: {k: statistics.median(x[k] for x in xs)
                   for k in PER_OP_SUMS + ["peak_exec_mem_mb"]}
              for op, xs in sorted(by_op.items())}
    return m, detail


def overhead_frac(traced_walls, plain_walls):
    """Relative cost of tracing: median traced pass over median untraced
    pass, minus one."""
    return (statistics.median(traced_walls) /
            statistics.median(plain_walls)) - 1.0
