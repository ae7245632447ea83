"""Arithmetic for graft's benchmark: percentiles, recall, span self time,
idle core share, attribution of Spark events to ops, and the reduction of
one raw run record (written by PerfBench.scala) to the reported metrics.

Pure functions over plain dicts and lists, so each rule is unit-tested in
test_benchlib.py without Spark.
"""

import statistics

MIN_BEYOND = 10  # a tail percentile needs this many samples beyond it
MIN_RECALL = 0.8  # recall@k below this is a wrong answer


# --- percentiles and recall ---------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, min_beyond=MIN_BEYOND):
    """The highest nearest-rank percentile with at least `min_beyond`
    samples beyond it: (fraction, value). With 100 samples this is p90,
    with 50 it is p80; below 2 x min_beyond samples it would not reach
    the median, and the answer is None."""
    n = len(xs)
    if n < 2 * min_beyond:
        return None
    rank = n - min_beyond  # 1-based nearest rank
    return rank / n, sorted(xs)[rank - 1]


def recall(served, exact):
    """|served ∩ exact| / |exact| summed over queries; dicts qid -> ids."""
    total = sum(len(ids) for ids in exact.values())
    if total == 0:
        return 1.0
    hit = sum(len(set(served.get(q, ())) & set(ids)) for q, ids in exact.items())
    return hit / total


# --- spans ------------------------------------------------------------------------

def covered(t0, t1, intervals):
    """Length of [t0, t1] covered by the union of `intervals`."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals)
    total, end = 0, t0
    for a, b in clipped:
        if b <= a:
            continue
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["t1"] - span["t0"]) - covered(
        span["t0"], span["t1"], [(c["t0"], c["t1"]) for c in children])


def layer_of(name):
    """Layer of a span: the module prefix of its name; an op's own span
    (no prefix) is the client."""
    return name.split(".", 1)[0] if "." in name else "client"


def idle_core_share(busy_ms, wall_ms, cores):
    """1 - task busy time / (wall time x cores): the share of the cores
    left idle while the op ran, waiting on planning or scheduling."""
    if wall_ms <= 0:
        return 0.0
    return 1.0 - busy_ms / (wall_ms * cores)


# --- attribution ------------------------------------------------------------------

def op_of_group(group):
    """The op that caused a Spark event: PerfBench sets the job group
    "op-<id>" around every traced op. Other groups (untraced ops "u-<id>",
    none) are not attributed."""
    if group and group.startswith("op-"):
        try:
            return int(group[3:])
        except ValueError:
            return None
    return None


def spark_spans(record):
    """Job and stage events as spans (ns), each attributed to an op.
    A job's parent is the innermost benchmark span of its op that
    contains its start; a stage's parent is its job."""
    spark = record.get("spark") or {}
    spans = record["spans"]
    out = []
    next_id = max([s["id"] for s in spans], default=-1) + 1
    job_span = {}
    for j in spark.get("jobs", []):
        t0, t1 = j["start"] * 1_000_000, j["end"] * 1_000_000
        op = op_of_group(j["group"])
        if op is None:
            continue
        inner = [s for s in spans if s["op"] == op and s["t0"] <= t0 <= s["t1"]]
        parent = min(inner, key=lambda s: s["t1"] - s["t0"])["id"] if inner else -1
        span = {"id": next_id, "parent": parent, "op": op, "name": "spark_job.%d" % j["id"],
                "t0": t0, "t1": max(t1, t0)}
        job_span[j["id"]] = span
        out.append(span)
        next_id += 1
    for s in spark.get("stages", []):
        t0, t1 = s["start"] * 1_000_000, s["end"] * 1_000_000
        op = op_of_group(s["group"])
        if op is None:
            continue
        parent = job_span.get(s["job"], {"id": -1})["id"]
        out.append({"id": next_id, "parent": parent, "op": op,
                    "name": "spark_stage.%d" % s["id"], "t0": t0, "t1": max(t1, t0)})
        next_id += 1
    return out


def layer_self_times(spans):
    """Total self time (ns) per layer over a span forest."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0) + self_time(s, kids.get(s["id"], []))
    return out


# --- reduction ----------------------------------------------------------------------

OP_KINDS = ["search", "append", "compact", "flood", "pq_flood", "curate", "neardup"]
SELF_LAYERS = ["client", "api", "index", "storage", "pipeline", "spark_job", "spark_stage"]
SCHED_KEYS = ["jobs", "stages", "tasks", "task_busy_ms", "task_cpu_ms", "idle_core_share",
              "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_blocks", "gc_ms",
              "codegen_compiles"]


def ms(op):
    return (op["t1"] - op["t0"]) / 1e6


def timed_ops(record, kind=None):
    """Loop ops (not checks), optionally of one kind."""
    return [o for o in record["ops"]
            if o["kind"] != "check" and (kind is None or o["kind"] == kind)]


def recalls(record):
    """Recall@k per recorded set ("ivf": the served index, "pq": PQ with
    rerank), from the served and exact ids PerfBench kept."""
    return {name: recall(s["served"], s["exact"]) for name, s in record["recall"].items()}


def all_checks(record):
    """PerfBench's output checks plus one recall check per set."""
    return record["checks"] + [
        {"name": "%s recall@%d >= %s" % (name, record["k"], MIN_RECALL),
         "ok": r >= MIN_RECALL, "op": -1, "detail": "recall %.4f" % r}
        for name, r in recalls(record).items()]


def failures(record):
    """(attempted, failed): every op and every check not tied to an op."""
    ops = record["ops"]
    loose = [c for c in all_checks(record) if c["op"] < 0]
    attempted = len(ops) + len(loose)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in loose if not c["ok"])
    return attempted, failed


def end_to_end(record):
    """The end-to-end metrics of one untraced run."""
    w = record["workload"]
    g = record["gauges"]
    loop = timed_ops(record)
    if w == "offline":
        by_iter = {}
        for o in loop:
            by_iter[o.get("iter", 0)] = by_iter.get(o.get("iter", 0), 0.0) + ms(o)
        lat = list(by_iter.values())
        rec = recalls(record).get("pq", 0.0)
    else:
        lat = [ms(o) for o in loop if o["kind"] == "search"]
        rec = recalls(record).get("ivf", 0.0)
    busy_s = sum(ms(o) for o in loop) / 1e3
    attempted, failed = failures(record)
    return {
        "setup_s": ((record["first_op"] - record["jvm_start"] * 1_000_000) / 1e9, "s"),
        "p50_ms": (median(lat), "ms"),
        "items_per_s": (sum(o["items"] for o in loop) / busy_s if busy_s else 0.0, "1/s"),
        "recall_at_10": (rec, "ratio"),
        "space_amp": (g["epoch_bytes"] / g["raw_bytes"], "ratio"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
        "success_rate": (1.0 - failed / attempted if attempted else 0.0, "ratio"),
    }


def _rate(ops):
    s = sum(ms(o) for o in ops) / 1e3
    return sum(o["items"] for o in ops) / s if s else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(record):
    """The per-layer metrics of one traced run."""
    ops = record["ops"]
    by_id = {o["id"]: o for o in ops}
    traced = [o for o in ops if o["traced"] and o["kind"] != "check"]
    spans = record["spans"]
    sspans = spark_spans(record)
    layer = record["layer"]
    g = record["gauges"]
    k = record["k"]
    cores = record["cores"]
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    def span_ms(name):
        return _mean([(s["t1"] - s["t0"]) / 1e6 for s in spans if s["name"] == name])

    # op level
    search = [ms(o) for o in timed_ops(record, "search")]
    t = tail(search)
    put("op.search.p50_ms", median(search), "ms")
    put("op.search.tail_ms", t[1] if t else 0.0, "ms")
    put("op.search.qps", _rate(timed_ops(record, "search")), "1/s")
    put("op.append.p50_ms", median([ms(o) for o in timed_ops(record, "append")]), "ms")
    put("op.append.vps", _rate(timed_ops(record, "append")), "1/s")
    put("op.compact.s", median([ms(o) for o in timed_ops(record, "compact")]) / 1e3, "s")
    put("op.flood.qps", _rate(timed_ops(record, "flood")), "1/s")
    put("op.pq_flood.qps", _rate(timed_ops(record, "pq_flood")), "1/s")
    put("op.curate.docs_per_s", _rate(timed_ops(record, "curate")), "1/s")
    put("op.neardup.vps", _rate(timed_ops(record, "neardup")), "1/s")

    # api
    put("api.search.build_ms", span_ms("api.search.build"), "ms")
    put("api.search.exec_ms", span_ms("api.search.exec"), "ms")
    put("api.activate_ms", layer.get("api.activate_ms", 0.0), "ms")

    # index
    for kind in ["search", "flood", "pq_flood"]:
        xs = [o for o in traced if o["kind"] == kind and "candidates" in o]
        cands = sum(o["candidates"] for o in xs)
        queries = sum(o["items"] for o in xs)
        put("index.%s.candidates_per_query" % kind, cands / queries if queries else 0.0,
            "count")
        put("index.%s.useful_ratio" % kind, k * queries / cands if cands else 0.0, "ratio")
    put("index.search.lists_touched",
        _mean([o["lists_touched"] for o in traced if "lists_touched" in o]), "count")
    for kind in ["flood", "pq_flood"]:
        put("index.%s.build_ms" % kind, span_ms("index.%s.build" % kind), "ms")
        put("index.%s.exec_ms" % kind, span_ms("index.%s.exec" % kind), "ms")

    # functions, kmeans, storage, pipeline
    put("functions.l2_ns_per_pair", layer.get("functions.l2_ns_per_pair", 0.0), "ns")
    put("functions.argmin_ns_per_vec", layer.get("functions.argmin_ns_per_vec", 0.0), "ns")
    put("kmeans.train_ms", layer.get("kmeans.train_ms", 0.0), "ms")
    put("storage.build_epoch_ms", layer.get("storage.build_epoch_ms", 0.0), "ms")
    put("storage.files_per_list",
        _mean([o["files_per_list"] for o in traced if "files_per_list" in o]), "count")
    user = g.get("user_bytes_appended", 0)
    put("storage.write_amp", g.get("epoch_bytes_written", 0) / user if user else 0.0, "ratio")
    put("storage.epoch_bytes", g["epoch_bytes"], "bytes")
    for step in ["curate", "neardup"]:
        put("pipeline.%s.build_ms" % step, span_ms("pipeline.%s.build" % step), "ms")
        put("pipeline.%s.exec_ms" % step, span_ms("pipeline.%s.exec" % step), "ms")

    # scheduling, per op of each kind
    spark = record.get("spark") or {}
    jobs_by_op, stages_by_op = {}, {}
    for j in spark.get("jobs", []):
        op = op_of_group(j["group"])
        if op is not None:
            jobs_by_op.setdefault(op, []).append(j)
    for s in spark.get("stages", []):
        op = op_of_group(s["group"])
        if op is not None:
            stages_by_op.setdefault(op, []).append(s)
    failed_tasks = 0
    for kind in OP_KINDS:
        xs = [o for o in traced if o["kind"] == kind]
        n = len(xs)
        st = [s for o in xs for s in stages_by_op.get(o["id"], [])]
        busy = sum(s["busy_ms"] for s in st)
        wall = sum(ms(o) for o in xs)
        failed_tasks += sum(s["failed_tasks"] for s in st)
        vals = {
            "jobs": sum(len(jobs_by_op.get(o["id"], [])) for o in xs),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "task_busy_ms": busy,
            "task_cpu_ms": sum(s["cpu_ns"] for s in st) / 1e6,
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
            "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in st),
            "shuffle_blocks": sum(s["shuffle_blocks"] for s in st),
            "gc_ms": sum(s["gc_ms"] for s in st),
            "codegen_compiles": sum(o.get("codegen", 0) for o in xs),
        }
        units = {"task_busy_ms": "ms", "task_cpu_ms": "ms", "gc_ms": "ms",
                 "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes"}
        for key in SCHED_KEYS:
            name = "scheduling.%s.%s" % (kind, key)
            if key == "idle_core_share":
                put(name, idle_core_share(busy, wall, cores) if n else 0.0, "ratio")
            else:
                put(name, vals[key] / n if n else 0.0, units.get(key, "count"))
    put("scheduling.failed_tasks", failed_tasks, "count")

    # self time per layer, as a share of traced op time; tracing overhead
    forest = [s for s in spans if by_id.get(s["op"], {}).get("traced")] + sspans
    selfs = layer_self_times(forest)
    op_ns = sum(o["t1"] - o["t0"] for o in traced)
    for name in SELF_LAYERS:
        put("trace.self_share.%s" % name, selfs.get(name, 0) / op_ns if op_ns else 0.0,
            "ratio")
    primary = "flood" if record["workload"] == "offline" else "search"
    on = [ms(o) for o in timed_ops(record, primary) if o["traced"]]
    off = [ms(o) for o in timed_ops(record, primary) if not o["traced"]]
    over = median(on) - median(off) if on and off else 0.0
    put("trace.overhead_ms", over, "ms")
    put("trace.overhead_share", over / median(off) if off and median(off) else 0.0, "ratio")
    return m


HIGHER = (".qps", ".vps", ".docs_per_s", ".useful_ratio")


def better(name):
    """Direction of a per-layer metric: rates and useful-work ratios are
    better higher; times, counts, bytes and shares of idle or self time
    are better lower."""
    return "higher" if name.endswith(HIGHER) else "lower"


def reduce(record, trace):
    """The result line: correctness, op counts and the metrics."""
    attempted, failed = failures(record)
    correct = all(c["ok"] for c in all_checks(record)) and failed == 0
    metrics = per_layer(record) if trace else end_to_end(record)
    return {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
