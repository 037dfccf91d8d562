"""Per-layer metrics from a traced run's span sidecar.

Every additive metric is an average per schedule cycle (the sum over
the traced ops divided by the number of schedule cycles they make up:
a change cycle and a read on cdc_trickle, one pass over the gates on
ops_batch), so runs of different lengths and the parent and child of
a change compare directly. Ratios are ratios of the sums. Layers carry the repository's module names; see README.md for
which end-to-end metric each should move.
"""
# the gates OpsBatch.scala runs, in its order
GATES = ("text_quality", "rank_bm25", "dedup_minhash", "dedup_clusters",
         "dedup_embedding", "ann_lsh")
PHASES = ("plan", "planProbe", "planSplit", "write", "stats", "commit",
          "publish", "deleteWrite", "downgrade", "downgradeMerge")
SPARK = ("jobs", "stages", "tasks", "task_run.ms", "task_cpu.ms", "gc.ms",
         "sched_delay.ms", "shuffle_read.bytes", "shuffle_write.bytes",
         "spill.bytes", "input.bytes", "output.bytes", "driver_only.ms")
FS = ("read_ops", "write_ops", "bytes_read", "bytes_written")
SELF = ("bench", "store.merge", "store.read", "store.cdf", "streaming", "ops")


def _unit(name):
    if name.endswith(".ms") or name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_read") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("rows_staged", "rows_out", "rows_in", "rows_scanned", ".rows")):
        return "rows"
    if name.endswith(("write_amp", "selectivity", "fanout", "core_util")):
        return "ratio"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("heap_mb"):
        return "MB"
    if name.endswith("setup_s"):
        return "s"
    return "count"


# (name, unit, better) of every per-layer metric, in print order
METRICS = [(n, _unit(n), b) for n, b in (
    [("store.merge.calls", "lower"), ("store.merge.ms", "lower"),
     ("store.merge.rows_staged", "lower"), ("store.merge.files_written", "lower"),
     ("store.merge.bytes_written", "lower"), ("store.merge.write_amp", "lower")]
    + [(f"phase.{p}.ms", "lower") for p in PHASES]
    + [("phase.unattributed.ms", "lower"),
       ("store.read.point.ms", "lower"), ("store.read.scan.ms", "lower"),
       ("store.read.rows_out", "lower"), ("store.read.rows_scanned", "lower"),
       ("store.read.selectivity", "higher"), ("store.read.tasks", "lower"),
       ("store.cdf.ms", "lower"), ("store.cdf.rows", "lower"),
       ("streaming.join.ms", "lower"), ("streaming.agg.ms", "lower"),
       ("streaming.rows_in", "lower"), ("streaming.rows_out", "lower"),
       ("streaming.fanout", "lower")]
    + [(f"ops.{g}.ms", "lower") for g in GATES]
    + [("catalyst.analysis.ms", "lower"), ("catalyst.optimization.ms", "lower"),
       ("catalyst.planning.ms", "lower"), ("catalyst.queries", "lower")]
    + [(f"spark.{s}", "lower") for s in SPARK]
    + [("spark.core_util", "higher"), ("spark.leaked_rdds", "lower"),
       ("spark.conf_drift", "lower")]
    + [(f"fs.{f}", "lower") for f in FS]
    + [(f"self.{l}.ms", "lower") for l in SELF]
    + [("trace.ops", "higher"), ("trace.overhead.op_p50_ms", "lower"),
       ("trace.overhead.rows_per_s", "higher"), ("trace.overhead.peak_heap_mb", "lower"),
       ("trace.setup_s", "lower")])]


def per_layer(result, trace, overhead):
    """Per-layer metrics: {name: value} for every name in METRICS.

    `result` is the JVM's result file, `trace` its span sidecar and
    `overhead` the traced-minus-untraced end-to-end figures."""
    spans = trace["spans"]
    ops = [s for s in spans if s["parent"] < 0]
    n = max(1, len(ops)) / trace["cycle"]
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e6 for s in spans}
    child_ms = {}
    for s in spans:
        if s["parent"] >= 0:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + dur[s["id"]]

    def total(key, pred=lambda s: True):
        return sum(s["counters"].get(key, 0.0) for s in spans if pred(s))

    def layer(name):
        return lambda s: s["layer"] == name or s["layer"].startswith(name + ".")

    def ms(pred):
        return sum(dur[s["id"]] for s in spans if pred(s))

    def ratio(a, b):
        return a / b if b else 0.0

    m = {}
    merge = layer("store.merge")
    m["store.merge.calls"] = sum(1 for s in spans if merge(s)) / n
    m["store.merge.ms"] = ms(merge) / n
    m["store.merge.rows_staged"] = total("store.merge.rows_staged", merge) / n
    m["store.merge.files_written"] = total("store.merge.files_written", merge) / n
    m["store.merge.bytes_written"] = total("store.merge.bytes_written", merge) / n
    m["store.merge.write_amp"] = ratio(total("store.merge.data_bytes", merge),
                                       total("store.merge.cdf_bytes", merge))
    children = [s for s in spans if s["parent"] >= 0]
    for p in PHASES:
        m[f"phase.{p}.ms"] = sum(s["counters"].get(f"phase.{p}.ms", 0.0) for s in ops) / n
    # graft phase time inside ops that no layer span covered
    m["phase.unattributed.ms"] = sum(
        sum(v for k, v in s["counters"].items() if k.startswith("phase.")) for s in ops
    ) / n - sum(
        sum(v for k, v in s["counters"].items() if k.startswith("phase.")) for s in children
    ) / n
    read = layer("store.read")
    m["store.read.point.ms"] = ms(layer("store.read.point")) / n
    m["store.read.scan.ms"] = ms(layer("store.read.scan")) / n
    m["store.read.rows_out"] = total("store.read.rows_out", read) / n
    m["store.read.rows_scanned"] = total("spark.input.records", read) / n
    m["store.read.selectivity"] = ratio(total("store.read.rows_out", read),
                                        total("spark.input.records", read))
    m["store.read.tasks"] = total("spark.tasks", read) / n
    m["store.cdf.ms"] = ms(layer("store.cdf")) / n
    m["store.cdf.rows"] = total("store.cdf.rows", layer("store.cdf")) / n
    m["streaming.join.ms"] = ms(lambda s: s["kind"] == "streaming.join") / n
    m["streaming.agg.ms"] = ms(lambda s: s["kind"] == "streaming.agg") / n
    # the chain's input is what its first stage consumed; its output what
    # its last stage produced
    m["streaming.rows_in"] = total("streaming.rows_in", lambda s: s["kind"] == "streaming.join") / n
    m["streaming.rows_out"] = total("streaming.rows_out", lambda s: s["kind"] == "streaming.agg") / n
    m["streaming.fanout"] = ratio(m["streaming.rows_out"], m["streaming.rows_in"])
    for g in GATES:
        m[f"ops.{g}.ms"] = ms(lambda s, g=g: s["layer"] == "ops" and s["kind"] == g) / n
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}.ms"] = total(f"catalyst.{p}.ms") / n
    m["catalyst.queries"] = total("catalyst.queries") / n
    for k in SPARK:
        m[f"spark.{k}"] = total(f"spark.{k}") / n
    m["spark.core_util"] = ratio(total("spark.task_run.ms"), total("spark.core_slots.ms"))
    m["spark.leaked_rdds"] = result["leaked_rdds"]
    m["spark.conf_drift"] = result["conf_drift"]
    # fs counters are taken per span; the op spans hold each op's total
    for f in FS:
        m[f"fs.{f}"] = sum(s["counters"].get(f"fs.{f}", 0.0) for s in ops) / n
    for l in SELF:
        m[f"self.{l}.ms"] = sum(dur[s["id"]] - child_ms.get(s["id"], 0.0)
                               for s in spans if layer(l)(s)) / n
    m["trace.ops"] = len(ops)
    m["trace.overhead.op_p50_ms"] = overhead["op_p50_ms"]
    m["trace.overhead.rows_per_s"] = overhead["rows_per_s"]
    m["trace.overhead.peak_heap_mb"] = overhead["peak_heap_mb"]
    m["trace.setup_s"] = overhead["setup_s"]
    assert set(m) == {name for name, _, _ in METRICS}, set(m) ^ {name for name, _, _ in METRICS}
    return m


def phase_check(trace):
    """(sum of op spans' phase ms, PhaseStats delta over the traced ops):
    equal when every graft phase ran inside a traced op."""
    ops = [s for s in trace["spans"] if s["parent"] < 0]
    spans_ms = sum(v for s in ops for k, v in s["counters"].items() if k.startswith("phase."))
    stats_ms = sum(trace["phase_ms_traced_ops"].values())
    return spans_ms, stats_ms
