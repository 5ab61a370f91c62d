"""Turns one run's result file (written by `perfbench.Main`) into the
benchmark's end-to-end and per-layer metrics.

Span layers, outermost first: op (root) → call (a benchmark call into a
graft function: frame build or sink) → action (one SQL execution) → job →
stage. A layer's *self time* is the time during which it is the deepest
layer active inside the op; spans are clipped to their op, so the self
times of one op add up to its wall time.
"""
import math
import statistics

LAYERS = ("op", "call", "action", "job", "stage")
_DEPTH = {k: i for i, k in enumerate(LAYERS)}

# slack for the self-time identity: span times are clipped floats, so
# they add up to the op wall up to rounding
SELF_SUM_TOLERANCE_MS = 0.5


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for num in (m * (b - m) * x / ((a + m2 - 1) * (a + m2)),
                    -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of
    all order statistics. Op costs cluster by key, with gaps between
    keys; a plain sample quantile jumps across a gap when two keys swap
    places, this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(op_start, op_wall, spans):
    """Self time of each layer within one op, in ms.

    `spans` are dicts with `kind`, `start`, `end` (epoch ms). A span
    without an end runs to the end of the op."""
    lo, hi = op_start, op_start + op_wall
    events = []
    for s in spans:
        a = max(s["start"], lo)
        b = min(s["end"] if s.get("end") is not None else hi, hi)
        if b > a:
            d = _DEPTH[s["kind"]]
            events.append((a, 1, d))
            events.append((b, -1, d))
    events.sort()
    active = [0] * len(LAYERS)
    out = {k: 0.0 for k in LAYERS}
    t = lo
    for when, delta, d in events:
        deepest = max((i for i, n in enumerate(active) if n), default=0)
        out[LAYERS[deepest]] += when - t
        t = when
        active[d] += delta
    out["op"] += hi - t
    return out


def e2e_metrics(res):
    meas = [o for o in res["ops"] if o["phase"] == "measure"]
    walls = [o["wall_ms"] for o in meas]
    total_s = sum(walls) / 1000.0
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "build_s": res["build_s"],
        "op_p50_ms": quantile(walls, 0.5),
        "op_p90_ms": quantile(walls, 0.9),
        "ops_per_s": len(walls) / total_s,
        "rows_per_s": sum(o["rows"] for o in meas) / total_s,
        "peak_heap_mb": statistics.median(res["live_heap_mb"]),
    }


def layer_metrics(res):
    """Per-layer metrics from the traced cycles of a traced run. Times,
    bytes and counts are means per traced op unless the name says
    otherwise; `module.op_ms.*` are medians of the untraced cycles."""
    meas = [o for o in res["ops"] if o["phase"] == "measure"]
    traced = [o for o in meas if o["traced"]]
    untraced = [o for o in meas if not o["traced"]]
    by_op = {}
    for s in res["spans"]:
        by_op.setdefault(s["op"], []).append(s)

    per_op = []
    for o in traced:
        spans = by_op.get(o["id"], [])
        lo, hi = o["start_ms"], o["start_ms"] + o["wall_ms"]
        kinds = {k: [s for s in spans if s["kind"] == k] for k in LAYERS[1:]}
        stage_sum = lambda a: sum(s["attrs"].get(a, 0.0) for s in kinds["stage"])
        action_sum = lambda a: sum(s["attrs"].get(a, 0.0) for s in kinds["action"])
        calls = lambda name: [(s["end"] or hi) - s["start"] for s in kinds["call"] if s["name"] == name]
        jobs = [(s["start"], s["end"] if s["end"] is not None else hi) for s in kinds["job"]]
        st = self_times(lo, o["wall_ms"], spans)
        gap = sum(st.values()) - o["wall_ms"]
        if abs(gap) > SELF_SUM_TOLERANCE_MS:
            raise AssertionError("op %d: layer self times sum %.3f ms off its wall" % (o["id"], gap))
        per_op.append({
            "key": o["key"],
            "plan.build_ms": sum(calls("build")),
            "catalyst.analysis_ms": action_sum("catalyst.analysis_ms"),
            "catalyst.optimization_ms": action_sum("catalyst.optimization_ms"),
            "catalyst.planning_ms": action_sum("catalyst.planning_ms"),
            "spark.jobs_per_op": len(kinds["job"]),
            "spark.stages_per_op": len(kinds["stage"]),
            "spark.tasks_per_op": stage_sum("tasks"),
            "spark.driver_gap_ms": o["wall_ms"] - union_ms(jobs, lo, hi),
            "spark.task_run_ms": stage_sum("task_run_ms"),
            "spark.task_cpu_ms": stage_sum("task_cpu_ms"),
            "spark.task_gc_ms": stage_sum("task_gc_ms"),
            "spark.shuffle_write_bytes": stage_sum("shuffle_write_bytes"),
            "spark.shuffle_read_bytes": stage_sum("shuffle_read_bytes"),
            "spark.spill_bytes": stage_sum("spill_bytes"),
            "sources.input_rows": stage_sum("input_rows"),
            "sources.input_bytes": stage_sum("input_bytes"),
            "sources.jdbc_read_ms": stage_sum("jdbc_task_ms"),
            "sources.csv_read_ms": stage_sum("csv_task_ms"),
            "_csv_write": calls("csv_write"),
            "_jdbc_replace": calls("jdbc_replace"),
            "_jdbc_upsert": calls("jdbc_upsert"),
            "_actions": len(kinds["action"]),
            "jvm.gc_ms": o["gc_ms"],
            **{"self.%s_ms" % k: v for k, v in st.items()},
        })

    m = {}
    for name in per_op[0] if per_op else []:
        if not name.startswith("_") and name != "key":
            m[name] = mean([p[name] for p in per_op])
    sink = lambda f: mean([x for p in per_op for x in p[f]])
    m["sources.csv_write_ms"] = sink("_csv_write")
    m["sources.jdbc_replace_ms"] = sink("_jdbc_replace")
    m["sources.jdbc_upsert_ms"] = sink("_jdbc_upsert")
    m["retail.actions_per_batch"] = mean([p["_actions"] for p in per_op if p["key"] == "etl_batch"])
    deltas = [o for o in untraced if o["key"] == "etl_delta"]
    m["retail.upsert_rows_per_s"] = (sum(o["rows"] for o in deltas) * 1000.0 / sum(o["wall_ms"] for o in deltas)
                                     if deltas else 0.0)
    for mod in sorted({o["module"] for o in untraced}):
        m["module.op_ms." + mod] = statistics.median(o["wall_ms"] for o in untraced if o["module"] == mod)
    rep = res.get("report", {})
    for k, v in rep.get("prime_build_ms", {}).items():
        m["prime.build_ms." + k] = v
    for k, v in rep.get("prime_self_ms", {}).items():
        m["prime.self_ms." + k] = v
    for k, v in rep.get("recall_at_10", {}).items():
        m["ann.recall_at_10." + k] = v
    m["jvm.heap_peak_mb"] = max(res["live_heap_mb"])
    t_sum = sum(o["wall_ms"] for o in traced)
    u_sum = sum(o["wall_ms"] for o in untraced)
    m["trace.overhead_frac"] = t_sum / u_sum - 1.0 if u_sum else 0.0
    return m


def counts(res):
    """(attempted, failed): every executed op is checked, and the ops of
    a key that fails a run-level check (ANN recall floor) count as failed."""
    bad = set(res.get("bad_keys", {}))
    ops = res["ops"]
    failed = sum(1 for o in ops if o["error"] is not None or o["key"] in bad)
    attempted = len(ops) + (1 if "finish" in bad else 0)
    return attempted, failed + (1 if "finish" in bad else 0)
