"""Metric definitions and their computation from a driver-JVM result.

`summarize` turns one run's raw result (operations, set-up times, spans
with their engine counters) into three sets:

* "contract": the end-to-end metrics BENCHMARK.json declares, printed on
  the result line of an untraced run;
* "layers": the per-layer metrics BENCHMARK.json declares, printed on
  the result line of a traced run;
* "named": the workload's own figures by name (batch_wall_s,
  lookup_p90_ms, freshness_p50_s, ...), printed above the result line of
  every run and kept in the result file.
"""
import statistics

# Operation kinds whose latency is each workload's primary operation.
PRIMARY = {"medallion_batch": ("e1",), "serve_ingest": ("knn", "bm25")}

E1_STAGES = ["generate_stage", "sense", "load_raw", "archive", "master",
             "business_b_performance_metrics",
             "business_b_product_performance", "business_b_profitability_kpi",
             "business_b_sales_kpi", "business_b_customer_retention",
             "dq_gate", "curation", "assembly", "layer_counts"]
# E1's step DAG (graft.Pipeline.runReport): a serial head, then two
# concurrent arms, then a serial tail. In the warehouse arm the five
# business consumers run concurrently after master.
E1_HEAD = ["generate_stage", "sense", "load_raw", "archive"]
E1_TAIL = ["layer_counts"]
WAREHOUSE_SERIAL = ["master"]
WAREHOUSE_PARALLEL = [s for s in E1_STAGES if s.startswith("business_")]
CORPUS_SERIAL = ["dq_gate", "curation", "assembly"]
ARM_ID = {"none": 0, "warehouse": 1, "corpus": 2}

# (name, unit, better) of every per-layer metric, in output order.
LAYER_METRICS = (
    [(f"pipeline.{s}_s", "s", "lower") for s in E1_STAGES] + [
        ("pipeline.warehouse_arm_s", "s", "lower"),
        ("pipeline.corpus_arm_s", "s", "lower"),
        ("pipeline.critical_path_s", "s", "lower"),
        ("pipeline.critical_arm", "id", "lower"),
        ("sources.rows_read", "rows", "lower"),
        ("sources.read_s", "s", "lower"),
        ("sinks.bytes_written", "bytes", "lower"),
        ("sinks.files_written", "count", "lower"),
        ("sinks.write_s", "s", "lower"),
        ("relational.master_s", "s", "lower"),
        ("relational.business_max_s", "s", "lower"),
        ("relational.shuffle_bytes", "bytes", "lower"),
        ("relational.spill_bytes", "bytes", "lower"),
        ("curation.s", "s", "lower"),
        ("dedup.candidate_pairs", "rows", "lower"),
        ("dedup.result_pairs", "rows", "higher"),
        ("dedup.useful_ratio", "ratio", "higher"),
        ("similarity.candidate_pairs", "rows", "lower"),
        ("similarity.result_pairs", "rows", "higher"),
        ("similarity.useful_ratio", "ratio", "higher"),
        ("similarity.busy_s", "s", "lower"),
        ("similarity.rows_scanned_per_lookup", "rows", "lower"),
        ("retrieval.rows_scanned_per_lookup", "rows", "lower"),
        ("retrieval.files_scanned_per_lookup", "count", "lower"),
        ("retrieval.jobs_per_lookup", "count", "lower"),
        ("streaming.drain_s", "s", "lower"),
        ("streaming.micro_batches", "count", "lower"),
        ("streaming.rows_ingested", "rows", "higher"),
        ("takedown.apply_s", "s", "lower"),
        ("takedown.ids_deleted", "count", "higher"),
        ("takedown.delete_rows_per_lookup", "rows", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_s", "s", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("spark.sched_wait_s", "s", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("spark.shuffle_read_bytes", "bytes", "lower"),
        ("spark.spill_bytes", "bytes", "lower"),
        ("spark.scan_rows", "rows", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("driver.persistent_rdds", "count", "lower"),
        ("driver.heap_after_op_mb", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("failed_op_ratio", "ratio", "lower"),
    ])

# Counters that are a deterministic function of the inputs: two traced
# runs of one commit on one core count must agree on them exactly. The
# rest depend on timing (walls and what is derived from them, such as
# E1's critical arm; GC, spill under memory pressure, task skew).
EXACT = {
    "sources.rows_read", "sinks.files_written", "dedup.candidate_pairs",
    "dedup.result_pairs", "dedup.useful_ratio", "similarity.candidate_pairs",
    "similarity.result_pairs", "similarity.useful_ratio",
    "similarity.rows_scanned_per_lookup", "retrieval.rows_scanned_per_lookup",
    "retrieval.files_scanned_per_lookup", "retrieval.jobs_per_lookup",
    "streaming.micro_batches", "streaming.rows_ingested",
    "takedown.ids_deleted", "takedown.delete_rows_per_lookup",
    "spark.jobs", "spark.scan_rows", "driver.persistent_rdds",
    "failed_op_ratio"}
# The same, for the engine counters of one layer call (Trace.scala's
# Counters, plus the call's result rows). Task counts, bytes and times
# are left out: adaptive execution sizes partitions by compressed bytes.
EXACT_CALL = {"jobs", "scan_rows", "scan_files", "delete_rows", "join_rows",
              "output_rows", "written_files", "result_rows"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def e1_arms(st):
    """Arm walls and critical path of one E1 run from its stage walls."""
    g = lambda k: st.get(k, 0.0)
    wh = sum(g(s) for s in WAREHOUSE_SERIAL) + max(
        [g(s) for s in WAREHOUSE_PARALLEL] or [0.0])
    co = sum(g(s) for s in CORPUS_SERIAL)
    head = sum(g(s) for s in E1_HEAD) + sum(g(s) for s in E1_TAIL)
    arm = "none" if not st else ("warehouse" if wh >= co else "corpus")
    return {"warehouse_arm_s": wh, "corpus_arm_s": co,
            "critical_path_s": head + max(wh, co), "critical_arm": arm}


def _ops(res, phase=None):
    return [o for o in res["ops"]
            if phase is None or o["phase"] in phase]


def named_metrics(res, measured):
    """The workload's figures by name."""
    w = res["workload"]
    ok = [o for o in measured if o["ok"]]
    secs = lambda kinds: [o["s"] for o in ok if o["kind"] in kinds]
    n = {"setup_wall_s": median(res["setup_s"]),
         "heap_retained_mb": res["heap_retained_mb"],
         "failed_op_ratio": (sum(1 for o in measured if not o["ok"]) /
                             max(1, len(measured))),
         "ops": len(measured)}
    nm = res["named"]
    if w == "medallion_batch":
        n["batch_wall_s"] = median(secs(("e1",)))
        runs = nm.get("stages", [])
        arms = [e1_arms(st) for st in runs]
        for k in ("warehouse_arm_s", "corpus_arm_s", "critical_path_s"):
            n[f"pipeline.{k}"] = median([a[k] for a in arms])
        votes = [a["critical_arm"] for a in arms]
        n["pipeline.critical_arm"] = (max(set(votes), key=votes.count)
                                      if votes else "none")
        for s in E1_STAGES:
            n[f"pipeline.{s}_s"] = median([st.get(s, 0.0) for st in runs])
    else:
        look = secs(("knn", "bm25"))
        n["lookups"] = len(look)
        n["lookup_p50_ms"] = 1e3 * median(look)
        # p90 is reported only with at least ten lookups beyond it.
        n["lookup_p90_ms"] = (1e3 * quantile(look, 0.9)
                              if len(look) >= 100 else None)
        n["knn_p50_ms"] = 1e3 * median(secs(("knn",)))
        n["bm25_p50_ms"] = 1e3 * median(secs(("bm25",)))
        n["freshness_p50_s"] = median(secs(("arrival",)))
        n["takedown_p50_s"] = median(secs(("takedown",)))
        n["checked_lookups"] = nm.get("checked_lookups", 0)
    return n


def op_cpu(res, measured):
    """Mean over the workload's primary kinds of each kind's median CPU
    seconds per operation."""
    ok = [o for o in measured if o["ok"]]
    per_kind = [median([o["cpu_s"] for o in ok if o["kind"] == k])
                for k in PRIMARY[res["workload"]]]
    return sum(per_kind) / len(per_kind)


def contract_metrics(res, measured):
    return {
        "setup_s": {"value": median(res["setup_cpu_s"]), "unit": "s"},
        "op_cpu_s": {"value": op_cpu(res, measured), "unit": "s"},
        "heap_retained_mb": {"value": res["heap_retained_mb"], "unit": "MB"},
    }


def layer_metrics(res):
    w = res["workload"]
    spans = [s for s in res.get("spans", [])]
    traced_ops = _ops(res, ("traced",))
    kind_of = {o["request"]: o["kind"] for o in traced_ops}
    c = lambda s, k: s["counters"][k]

    def of(layer=None, name=None, requests=None):
        return [s for s in spans
                if (layer is None or s["layer"] == layer)
                and (name is None or s["name"] == name)
                and (requests is None or s["request"] in requests)]

    def self_s(s):
        kids = [k["s"] for k in spans if k["parent"] == s["id"]]
        return s["s"] - sum(kids)

    m = {k: 0.0 for k, _, _ in LAYER_METRICS}
    st = (res["named"].get("stages") or [{}])[-1] \
        if w == "medallion_batch" else {}
    for s in E1_STAGES:
        m[f"pipeline.{s}_s"] = st.get(s, 0.0)
    arms = e1_arms(st)
    for k in ("warehouse_arm_s", "corpus_arm_s", "critical_path_s"):
        m[f"pipeline.{k}"] = arms[k]
    m["pipeline.critical_arm"] = ARM_ID[arms["critical_arm"]]

    src = of("sources")
    m["sources.rows_read"] = sum(c(s, "scan_rows") for s in src)
    m["sources.read_s"] = sum(s["s"] for s in src)
    m["sinks.bytes_written"] = sum(c(s, "written_bytes") for s in spans)
    m["sinks.files_written"] = sum(c(s, "written_files") for s in spans)
    m["sinks.write_s"] = sum(self_s(s) for s in of("sinks"))

    rel = of("operators.Relational")
    m["relational.master_s"] = sum(s["s"] for s in rel
                                   if s["name"] == "masterModel")
    m["relational.business_max_s"] = max(
        [s["s"] for s in rel if s["name"] != "masterModel"] or [0.0])
    m["relational.shuffle_bytes"] = sum(c(s, "shuffle_write_bytes")
                                        for s in rel)
    m["relational.spill_bytes"] = sum(c(s, "spill_bytes") for s in rel)
    m["curation.s"] = sum(s["s"] for s in of("operators.Curation",
                                              "curatedDocs"))

    def pairs(prefix, layer_spans):
        cand = sum(c(s, "join_rows") for s in layer_spans)
        res_rows = sum(s["result_rows"] for s in layer_spans)
        m[f"{prefix}.candidate_pairs"] = cand
        m[f"{prefix}.result_pairs"] = res_rows
        m[f"{prefix}.useful_ratio"] = res_rows / cand if cand else 0.0

    pairs("dedup", of("operators.Dedup"))
    sim = of("operators.Similarity")
    pairs("similarity", sim)
    m["similarity.busy_s"] = sum(self_s(s) for s in sim)

    knn_req = {r for r, k in kind_of.items() if k == "knn"}
    bm_req = {r for r, k in kind_of.items() if k == "bm25"}
    knn_spans = of("operators.Similarity", "queryIvfIndex", knn_req)
    bm_spans = of("operators.Retrieval", "bm25TopKServed", bm_req)
    per = lambda xs, k, n: sum(c(s, k) for s in xs) / n if n else 0.0
    m["similarity.rows_scanned_per_lookup"] = per(knn_spans, "scan_rows",
                                                  len(knn_req))
    m["retrieval.rows_scanned_per_lookup"] = per(bm_spans, "scan_rows",
                                                 len(bm_req))
    m["retrieval.files_scanned_per_lookup"] = per(bm_spans, "scan_files",
                                                  len(bm_req))
    m["retrieval.jobs_per_lookup"] = per(bm_spans, "jobs", len(bm_req))

    m["streaming.drain_s"] = sum(s["s"] for s in of("streaming"))
    m["streaming.micro_batches"] = res["named"].get("micro_batches", 0)
    m["streaming.rows_ingested"] = res["named"].get("rows_ingested", 0)
    td = of("operators.Takedown")
    m["takedown.apply_s"] = sum(s["s"] for s in td)
    m["takedown.ids_deleted"] = sum(s["result_rows"] for s in td)
    looks = knn_spans + bm_spans
    m["takedown.delete_rows_per_lookup"] = per(
        looks, "delete_rows", len(knn_req) + len(bm_req))

    eng = res.get("engine", {})
    for k in ("jobs", "tasks", "task_s", "task_skew", "sched_wait_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "scan_rows", "gc_s"):
        m[f"spark.{k}"] = eng.get(k, 0)
    m["driver.persistent_rdds"] = res["persistent_rdds"]
    heap = [h for h, o in zip(res["heap_after_op_mb"], res["ops"])
            if o["phase"] == "traced"]
    m["driver.heap_after_op_mb"] = median(heap)

    prim = PRIMARY[w]
    t = [o["s"] for o in traced_ops if o["kind"] in prim and o["ok"]]
    # The untraced baseline: the same sequence, made after the warm-up
    # and just before the listeners attach.
    u = [o["s"] for o in _ops(res, ("baseline",))
         if o["kind"] in prim and o["ok"]]
    m["trace.overhead_s"] = median(t) - median(u) if t and u else 0.0
    m["failed_op_ratio"] = (sum(1 for o in traced_ops if not o["ok"]) /
                            max(1, len(traced_ops)))
    return m


def summarize(res, traced):
    measured = _ops(res, ("traced",) if traced else ("",))
    out = {"named": named_metrics(res, measured),
           "contract": contract_metrics(res, measured)}
    if traced:
        units = {k: u for k, u, _ in LAYER_METRICS}
        lm = layer_metrics(res)
        out["layers"] = {k: {"value": v, "unit": units[k]}
                         for k, v in lm.items()}
        out["exact_counters"] = sorted(EXACT)
        out["timing_dependent"] = sorted(set(units) - EXACT)
        out["exact_call_counters"] = sorted(EXACT_CALL)
        out["contract"] = out["layers"]
    return out


def render(workload, summary):
    """Human-readable lines printed above the result line."""
    lines = [f"== {workload}"]
    for k, v in summary["named"].items():
        unit = ("ms" if k.endswith("_ms") else "s" if k.endswith("_s")
                else "MB" if k.endswith("_mb") else
                "ratio" if k.endswith("ratio") else "")
        val = (f"{v:.6g}" if isinstance(v, float) else
               "n/a" if v is None else str(v))
        lines.append(f"  {k:<44} {val} {unit}".rstrip())
    return "\n".join(lines)
